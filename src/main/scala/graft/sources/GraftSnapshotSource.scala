package graft.sources

import java.util
import java.util.OptionalLong

import graft.etl.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableProvider}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL surface for [[SnapshotStore]] tables — reads AND writes. Reads
  * resolve the manifest POINTER once at table-load time and then hand
  * Spark's own parquet DSV2 machinery ([[ParquetTable]]) the exact dir
  * list + manifest schema — predicate pushdown, column pruning,
  * vectorized reads and AQE all apply unchanged, and the snapshot
  * isolation contract is preserved (the planned scan can never mix two
  * commits, because the dir list was fixed at a single pointer
  * resolve). Writes route through the LOCKED commit paths — SQL never
  * bypasses the single-writer discipline:
  *
  * {{{
  * // 1. reader format (option-addressed, time-travel via asOf):
  * spark.read.format("graft-snapshot")
  *   .option("asOf", 1).load(root)
  * // 2. catalog (name-addressed SQL — reads, time travel, DML):
  * spark.conf.set("spark.sql.catalog.snap",
  *   classOf[GraftSnapshotCatalog].getName)
  * spark.conf.set("spark.sql.catalog.snap.warehouse", dir)
  * spark.sql("SELECT * FROM snap.my_table VERSION AS OF 1")
  * spark.sql("INSERT INTO snap.my_table SELECT ...")   // atomic append
  * spark.sql("CALL snap.system.merge_into('my_table', 'changes_view',
  *            'key_col', 'delete_flag')")              // locked MERGE
  * }}}
  *
  * INSERT INTO is an atomic snapshot APPEND
  * ([[SnapshotStore.appendPartitions]] under the table lock, partition/
  * sort layout resolved from the manifest props every commit records);
  * the `merge_into` procedure is
  * [[graft.operators.MergeInto.mergeCommit]] — copy-on-write MERGE with
  * manifest-stats partition pruning, also under the lock. Time-travel
  * loads are read-only (writing to the past would fork history).
  *
  * 100 TB shape: table load cost is one ~KB manifest read; no file
  * listing happens until Spark plans the scan over exactly the listed
  * dirs. An unfiltered scan reports the manifest's EXACT row count
  * through the DSV2 statistics API (the per-entry counts captured at
  * write time), so broadcast decisions don't rely on file size alone.
  */
object GraftSnapshotTables {

  /** A loaded snapshot table: Spark's parquet DSV2 table for scans
    * (the manifest schema — if carried — becomes the user-specified
    * schema, so pre-evolution dirs read evolved columns as null, the
    * [[SnapshotStore.read]] contract), wrapped so unfiltered scans
    * report manifest row counts and — for `writable` loads — INSERT
    * appends through the locked commit path. */
  def load(spark: SparkSession, root: String, asOf: Option[Long],
      options: CaseInsensitiveStringMap,
      writable: Boolean = false): GraftSnapshotTable = {
    val m = asOf.map(SnapshotStore.manifestAt(root, _))
      .orElse(SnapshotStore.current(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    val pinned = asOf.isDefined
    // zero entries is legal (a MERGE whose deletes drained every
    // partition): ParquetTable over an empty dir list plans an empty
    // scan under the manifest schema — only a schema-less pre-evolution
    // manifest cannot type it
    require(m.entries.nonEmpty || m.schema.isDefined,
      s"snapshot ${m.id} at $root lists no data and carries no schema " +
        "— cannot type the empty table")
    // a RENAMED table's files spell the PHYSICAL column names — the
    // inner parquet table plans under those (so file-schema matching,
    // row-group pruning and vectorized reads all see what the files
    // actually contain), while this wrapper exposes the LOGICAL
    // schema; the scan builder translates pruning between the two and
    // the built scan reports its read schema back in logical names
    val inner = ParquetTable(
      s"graft_snapshot_${new java.io.File(root).getName}@${m.id}",
      spark,
      options,
      m.entries.map(e => s"$root/${e.dir}"),
      m.schema.map(SnapshotStore.physicalSchema),
      classOf[ParquetFileFormat])
    new GraftSnapshotTable(root, m, inner, writable, pinned)
  }
}

/** The wrapper table. Reads delegate to the inner [[ParquetTable]]'s
  * own ScanBuilder subclass (all pushdown mixins inherited, nothing
  * lost); the only read-path change is that a scan with NO pushed
  * filters/aggregates reports the manifest row count ([[Statistics
  * .numRows]]) — with pushed filters the manifest count would be an
  * overestimate, so the inner file-size estimate stands unchanged.
  *
  * Deliberately NOT a `FileTable` subclass, even though the inner
  * table is one: Spark's `FallBackFileSourceV2` rule rewrites INSERT
  * over any FileTable-backed relation into the V1 direct-file write
  * path, which would bypass the locked snapshot commit entirely (the
  * same reason Iceberg/Delta tables aren't FileTables). Known
  * consequence, shared with those formats: `Dataset.inputFiles`
  * returns empty for catalog reads — it only collects from FileTable
  * relations; read the file list off the planned `FileScan` instead. */
class GraftSnapshotTable(
    val root: String,
    val manifest: SnapshotStore.Manifest,
    inner: ParquetTable,
    private[graft] val writable: Boolean,
    pinned: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = inner.name
  /** LOGICAL names (post-rename); the inner table carries the
    * physical spelling the files use. asNullable matches FileTable's
    * own normalization (file sources can't promise NOT NULL; a
    * non-nullable read schema makes the vectorized reader REJECT
    * pre-evolution files missing the column instead of null-filling,
    * and strips the IsNotNull conjuncts from pushed filters). */
  override def schema(): StructType =
    manifest.schema.map(GraftSnapshotTable.nullableDeep)
      .getOrElse(inner.schema)
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def properties(): util.Map[String, String] = inner.properties()

  /** logical → physical (empty for never-renamed tables). */
  private val physOf: Map[String, String] =
    manifest.schema.map(SnapshotStore.physMapOf).getOrElse(Map.empty)
  private val logicalOf: Map[String, String] = physOf.map(_.swap)

  /** Does this load's manifest carry live DELETION VECTORS? Batch
    * reads must then anti-apply them —
    * [[graft.plans.SnapshotDvReadRewrite]] (part of
    * [[graft.GraftExtensions]], the engine's session contract)
    * replaces the relation with the DV-applied plan at analysis; a
    * session WITHOUT the extensions reaches the scan's toBatch and
    * fails loudly there instead of resurrecting deleted rows. */
  private[graft] val hasDvs: Boolean =
    manifest.entries.exists(_.dv.isDefined)

  private[graft] val hasEqDeletes: Boolean =
    SnapshotStore.eqDeletesOf(manifest).nonEmpty

  /** Batch reads that cannot run as a raw keyed file scan: deletion
    * vectors / equality deletes (anti-joins needed) or NESTED renames
    * (struct-rebuild projection needed) — all served by the same
    * analysis rewrite. */
  private[graft] val needsResolvedRead: Boolean =
    hasDvs || hasEqDeletes ||
      manifest.schema.exists(SnapshotStore.hasNestedMapping)

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ)
    // the streaming tail follows the LIVE commit chain — a time-travel
    // (asOf-pinned) load must not advertise it, or the pin would be
    // silently ignored and the consumer tailed the current table; the
    // capability is absent, so the analyzer rejects readStream+asOf
    if (!pinned) caps.add(TableCapability.MICRO_BATCH_READ)
    // time-travel loads are read-only: an INSERT "into the past" would
    // fork history — the capabilities are simply absent, so the
    // analyzer rejects the statement before any write machinery runs.
    // TRUNCATE admits the truncate-form `INSERT OVERWRITE` through the
    // V1 fallback; OVERWRITE_BY_FILTER is deliberately NOT declared —
    // the builder implements no SupportsOverwrite, so declaring it
    // would turn a clean capability-check AnalysisException (partition-
    // spec'd static overwrite) into a misleading post-analysis error.
    if (writable) {
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
    }
    caps
  }

  /** Manifest total row count — known only when every entry carries
    * write-time stats (entries from pre-stats commits make the total
    * a lie, so report nothing). */
  private val manifestRows: Option[Long] = {
    val stats = manifest.entries.flatMap(_.stats)
    // live equality deletes make the total data-dependent — never
    // report a count that over-claims
    if (hasEqDeletes) None
    else if (stats.size == manifest.entries.size)
      Some(stats.map(_.rows).sum)
    else None
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    // the inner table builds its own (option-merged) builder; its case
    // accessors hand over the exact constructor args for the subclass.
    // The streaming tail reads files by name, so it gets the PHYSICAL
    // schema (its row output is positional against the relation's
    // logical attributes).
    new GraftSnapshotScanBuilder(inner.newScanBuilder(options),
      manifestRows, root,
      manifest.schema.map(SnapshotStore.physicalSchema)
        .getOrElse(inner.schema), options, physOf, logicalOf,
      manifest, needsResolvedRead)

  /** SQL `DELETE FROM snap.t WHERE <partition predicate>` — the atomic
    * DROP PARTITION (`ALTER TABLE … DROP PARTITION` is standard
    * ClickHouse MergeTree operational practice; an extension — not in
    * the reference): deletable iff every conjunct resolves to a set of
    * partition VALUES (=, <=>, IN, OR-of-those on the partition
    * column, or no predicate at all = truncate), in which case the
    * delete is one METADATA-ONLY commit through the locked
    * [[SnapshotStore.dropPartitions]] — no data file is read or
    * written, whatever the partitions held. Row-level predicates
    * return false here, so Spark rejects the statement at analysis
    * (the honest answer for a format whose deletes are
    * partition-granular; MERGE with a delete flag is the row-level
    * path). */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable && deleteTargets(filters).isDefined

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(writable, "time-travel loads are read-only: deleting from " +
      "a historical snapshot would fork the manifest history")
    val targets = deleteTargets(filters).getOrElse(
      throw new UnsupportedOperationException(
        "snapshot DELETE is partition-granular: the WHERE clause must " +
          "resolve to partition values (=, IN, OR on the partition " +
          "column) — use CALL merge_into with a delete flag for " +
          "row-level deletes"))
    SnapshotStore.dropPartitions(root, targets)
    ()
  }

  /** AND-of-filters → Some(None)=every partition, Some(Some(vs))=this
    * value set, None=not expressible partition-granularly. Manifest
    * values were rendered by the WRITER's `cast(partCol as string)`,
    * so a DELETE literal must be rendered the same way: JVM `toString`
    * agrees for strings, integrals, dates and booleans; timestamps go
    * through Spark's OWN Catalyst `Cast` (java.sql.Timestamp.toString
    * appends ".0" and would silently match nothing), which by
    * construction cannot drift from the writer's rendering — and for
    * TZ timestamps the session timezone is ENFORCED against the
    * table.tz manifest prop recorded at commit (a zone mismatch throws
    * instead of silently matching zero tokens).
    * Float/decimal partition columns still fail `canDeleteWhere`
    * LOUDLY: their literal-vs-cast formatting is genuinely ambiguous
    * (1.50 vs 1.5), and a mismatch would silently drop nothing. */
  /** Can [[deleteWhere]] serve these filters as a metadata-only
    * partition drop? Used by [[graft.plans.SnapshotRowDeleteRewrite]]
    * to decide partition-drop vs row-level copy-on-write at analysis.
    * A refusal thrown by the token-rendering path (the TZ-timestamp
    * zone check) counts as "not partition-granular": the row-level
    * rewrite evaluates the predicate on data values, which is
    * zone-correct, and its commit re-checks the layout loudly. */
  private[graft] def partitionGranularDelete(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable &&
      (try deleteTargets(filters)
       catch { case _: UnsupportedOperationException => scala.None })
        .isDefined

  private def deleteTargets(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[Option[Set[String]]] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val spec = SnapshotStore.tableLayout(manifest)
      .map(l => SnapshotStore.parseSpec(l._1))
      .getOrElse(return scala.None)
    // the filter array is a conjunction; empty = unconditional DELETE
    if (filters.isEmpty) return Some(None)
    def render(c: String, v: Any): Option[String] =
      schema().fields.find(_.name == c).map(_.dataType).flatMap {
      case StringType | ByteType | ShortType | IntegerType |
           LongType | BooleanType => Some(v.toString)
      case DateType => Some(v.toString) // sql.Date/LocalDate: ISO = cast
      case dt @ (TimestampType | TimestampNTZType) =>
        if (dt == TimestampType) {
          // TZ timestamps: manifest tokens were rendered under the
          // WRITER session's timezone (recorded as the table.tz prop
          // at commit). Rendering this DELETE's literal under a
          // different current zone would match zero tokens — the
          // DELETE would report success and silently remove nothing.
          // Refuse loudly instead of relying on convention.
          val sess = SparkSession.active.sessionState.conf
            .sessionLocalTimeZone
          val wtz = manifest.props.get(graft.etl.SnapshotStore.TzProp)
          if (!wtz.exists(
              graft.etl.SnapshotStore.sameRendering(_, sess)))
            throw new UnsupportedOperationException(
            wtz match {
              case scala.Some(w) =>
                s"snapshot DELETE on the TZ-timestamp partition column " +
                  s"refused: the table's partition tokens were rendered " +
                  s"under session timezone '$w' but this session uses " +
                  s"'$sess' — set spark.sql.session.timeZone to '$w'"
              case scala.None =>
                "snapshot DELETE on the TZ-timestamp partition column " +
                  "refused: this table predates timezone-recording " +
                  "manifests (no table.tz prop), so the literal's " +
                  "rendering cannot be proven to match the writer's — " +
                  "recommit to record the zone, or use CALL merge_into"
            })
        }
        try {
          val cast = org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt),
            StringType,
            Some(SparkSession.active.sessionState.conf.sessionLocalTimeZone))
          Option(cast.eval(null)).map(_.toString)
        } catch { case _: Exception => scala.None }
      case _ => scala.None // float/decimal: ambiguous → loud refusal
    }
    // per-entry IDENTITY component values: identity components are
    // EXACT at partition granularity (the token carries the value);
    // bucket components are LOSSY — a predicate on a bucket-only
    // column can never be served partition-granularly (deleting the
    // bucket would delete other keys sharing it), so such predicates
    // fall through to the row-level copy-on-write path
    val entryComps: Seq[(String, Map[String, String])] =
      manifest.entries.map { e =>
        // spec evolution: an entry of an OUTGOING vintage splits under
        // ITS OWN spec — its identity components are exact under that
        // spec, so the metadata-only drop stays exact across vintages
        val eSpec = e.spec.map(SnapshotStore.parseSpec).getOrElse(spec)
        eSpec.splitToken(e.value) match {
          case scala.Some(cs) =>
            e.value -> eSpec.fields.zip(cs).collect {
              case (graft.etl.PartitionSpec.Identity(c), v) => c -> v
            }.toMap
          // a token of the wrong arity (legacy layout change mid-table
          // — shouldn't happen, checkLayout forbids it) is undecidable
          case scala.None => return scala.None
        }
      }
    // entries of DIFFERENT vintages may share a value string; the
    // value-addressed drop cannot tell them apart, so a shared value
    // with diverging decisions must bail to the row-level path
    // (checked below after per-entry evaluation)
    // three-valued evaluation of one filter over one entry's identity
    // components: Some(bool) = decided for the WHOLE partition, None =
    // not expressible partition-granularly. Not() is exact because
    // partition component values are non-null by the commit guard.
    def ev(f: Filter, comps: Map[String, String]): Option[Boolean] =
      f match {
        case AlwaysTrue() => Some(true)
        case AlwaysFalse() => Some(false)
        case EqualTo(a, v) if comps.contains(a) && v != null =>
          render(a, v).map(_ == comps(a))
        case EqualNullSafe(a, v) if comps.contains(a) && v != null =>
          render(a, v).map(_ == comps(a))
        case In(a, vs)
            if comps.contains(a) && vs != null && vs.forall(_ != null) =>
          val ts = vs.toSeq.map(render(a, _))
          if (ts.forall(_.isDefined)) Some(ts.flatten.contains(comps(a)))
          else scala.None
        // identity component values are provably NON-NULL (the commit
        // guard refuses null partition values), so the null-intolerance
        // conjuncts Spark attaches to a delete condition decide exactly
        // — without this, `month = 'x'` arriving as
        // `IsNotNull(month) AND month = 'x'` would abort the whole
        // metadata-only drop into a row-level copy-on-write
        case IsNotNull(a) if comps.contains(a) => Some(true)
        case IsNull(a) if comps.contains(a) => Some(false)
        // three-valued domination: a side decided TRUE settles an OR
        // (every row of the partition satisfies it, whatever the other
        // side does per-row), FALSE settles an AND — so
        // `month='1998-03' OR other=5` still decides exactly for the
        // entries whose decided disjunct is true
        case Or(l, r) =>
          (ev(l, comps), ev(r, comps)) match {
            case (Some(true), _) | (_, Some(true)) => Some(true)
            case (Some(false), o) => o
            case (o, Some(false)) => o
            case _ => scala.None
          }
        case And(l, r) =>
          (ev(l, comps), ev(r, comps)) match {
            case (Some(false), _) | (_, Some(false)) => Some(false)
            case (Some(true), o) => o
            case (o, Some(true)) => o
            case _ => scala.None
          }
        case Not(x) => ev(x, comps).map(!_)
        case _ => scala.None
      }
    val decided = entryComps.map { case (value, comps) =>
      val evs = filters.toSeq.map(f => ev(f, comps))
      if (evs.exists(_.isEmpty)) return scala.None
      value -> evs.forall(_.contains(true))
    }
    val byValue = decided.groupBy(_._1)
    if (byValue.exists(_._2.map(_._2).distinct.size > 1))
      return scala.None // cross-vintage value collision, row-level path
    Some(Some(decided.collect { case (v, true) => v }.toSet))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val (partCol, sortCol) = SnapshotStore.tableLayout(manifest).getOrElse(
      throw new UnsupportedOperationException(
        s"snapshot table at $root predates layout-recording manifests " +
          "(no table.partCol/table.sortCol props) — recommit with " +
          "SnapshotStore.write to enable SQL INSERT"))
    val tableSchema = schema()
    // SupportsTruncate admits the truncate-form OverwriteByExpression
    // (static INSERT OVERWRITE) through V2Writes. The overwrite signal
    // travels through THIS BUILDER, not the exec: Spark 4's V1
    // fallback calls insert(df, overwrite = false) unconditionally
    // (SupportsV1Write.writeWithV1), so the builder records whether
    // truncate() was requested and the Write keys on that.
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwriteAll = false
      override def truncate():
          org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteAll = true; this
      }
      override def build(): Write = new V1Write {
        // the V1 fallback hands the whole resolved DataFrame to the
        // driver — exactly what a manifest commit needs (the commit IS
        // a driver-side pointer swap after a normal distributed write),
        // so no per-partition DataWriter machinery is involved
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // analyzer resolved the query BY POSITION against the
              // table schema; re-alias so the commit path can address
              // the partition/sort columns by NAME
              val aligned = data.toDF(tableSchema.fieldNames.toIndexedSeq: _*)
              if (overwrite || overwriteAll)
                // the analyzer routes INSERT OVERWRITE here only in
                // STATIC partitionOverwriteMode (truncate-form
                // OverwriteByExpression → V1 fallback): replace the
                // whole table as one fresh snapshot — one commit,
                // history stays time-travelable. DYNAMIC mode plans
                // OverwritePartitionsDynamic instead, intercepted by
                // [[graft.plans.SnapshotOverwriteRewrite]] into the
                // locked partition-level restatement.
                SnapshotStore.write(aligned, root, partCol, sortCol)
              else
                SnapshotStore.appendPartitions(aligned, root, partCol,
                  sortCol)
              ()
            }
          }
      }
    }
  }
}

private[sources] object GraftSnapshotTable {
  /** Deep-nullable normalization — the (private[spark]) `asNullable`
    * FileTable applies to user-specified schemas, reimplemented on the
    * public type surface. Field METADATA is preserved (the rename
    * mapping rides on it). */
  def nullableDeep(s: StructType): StructType =
    nullableDeepDt(s).asInstanceOf[StructType]

  private def nullableDeepDt(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullableDeepDt(f.dataType), nullable = true)))
      case at: ArrayType => at.copy(
        elementType = nullableDeepDt(at.elementType), containsNull = true)
      case mt: MapType => mt.copy(
        valueType = nullableDeepDt(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }
}

/** The inner table's own builder subclassed — NOT a delegating proxy:
  * every pushdown mixin (`SupportsPushDownCatalystFilters`,
  * `SupportsPushDownRequiredColumns`, `SupportsPushDownAggregates`, …)
  * is inherited, so `instanceof` checks in V2ScanRelationPushDown see
  * the real thing and filter/column/aggregate pushdown is untouched. */
private class GraftSnapshotScanBuilder(
    template: ParquetScanBuilder,
    manifestRows: Option[Long],
    root: String,
    physTableSchema: StructType,
    tblOptions: CaseInsensitiveStringMap,
    physOf: Map[String, String],
    logicalOf: Map[String, String],
    manifest: SnapshotStore.Manifest,
    needsResolvedRead: Boolean)
  extends ParquetScanBuilder(template.sparkSession, template.fileIndex,
    template.schema, template.dataSchema, template.options) {

  /** Column pruning arrives in LOGICAL names (the relation exposes
    * them); the inner builder's dataSchema is PHYSICAL (what the
    * files spell) — translate, or a renamed column's pruning request
    * would silently drop it from the read schema. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    super.pruneColumns(
      if (physOf.isEmpty) requiredSchema
      else StructType(requiredSchema.fields.map(f =>
        f.copy(name = physOf.getOrElse(f.name, f.name)))))

  /** Data filters arrive in LOGICAL names too; the parquet predicate
    * builder matches them against the FILE schema — untranslated, a
    * filter on a renamed column would find no file column and parquet
    * row-group/page pruning silently disappears at exactly the scale
    * it matters. Filters with a reference this translator can't walk
    * are simply NOT pushed (Spark re-evaluates every data filter
    * post-scan, so dropping a pushdown can only cost I/O, never
    * rows). */
  /** The FULL data-filter conjunction in LOGICAL names, captured for
    * manifest-stats file skipping (entry stats are keyed logically).
    * Deliberately the INCOMING set, not what parquet accepted: a
    * filter the file source can't push may still be range-decidable
    * against entry stats, and Spark re-evaluates every data filter
    * post-scan regardless. */
  private[sources] var pruneFilters
      : Seq[org.apache.spark.sql.sources.Filter] = Nil

  override def pushDataFilters(
      dataFilters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pruneFilters = dataFilters.toSeq
    if (physOf.isEmpty) super.pushDataFilters(dataFilters)
    else super.pushDataFilters(
      dataFilters.flatMap(translateFilterNames))
  }

  private def translateFilterNames(
      f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    def p(a: String): String = physOf.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => Some(EqualTo(p(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(p(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(p(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(p(a), v))
      case LessThan(a, v) => Some(LessThan(p(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(p(a), v))
      case In(a, vs) => Some(In(p(a), vs))
      case IsNull(a) => Some(IsNull(p(a)))
      case IsNotNull(a) => Some(IsNotNull(p(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(p(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(p(a), v))
      case StringContains(a, v) => Some(StringContains(p(a), v))
      case And(l, r) =>
        for (lt <- translateFilterNames(l); rt <- translateFilterNames(r))
          yield And(lt, rt)
      case Or(l, r) =>
        for (lt <- translateFilterNames(l); rt <- translateFilterNames(r))
          yield Or(lt, rt)
      case Not(x) => translateFilterNames(x).map(Not)
      case AlwaysTrue() => Some(f)
      case AlwaysFalse() => Some(f)
      case _ => None // unknown shape: don't push, post-scan filter holds
    }
  }

  override def build(): ParquetScan = {
    val p = super.build()
    // filtered/aggregated: the manifest count would overestimate, so
    // only an untouched scan reports it
    val exactRows =
      if (p.partitionFilters.isEmpty && p.dataFilters.isEmpty &&
        p.pushedAggregate.isEmpty) manifestRows
      else None
    // manifest-stats file skipping inputs (off switch for A/B and as
    // an escape hatch — pruning is conservative, see GraftStatsPrune)
    val statsPruneOn = template.sparkSession.sessionState.conf
      .getConfString("spark.graft.read.statsPrune", "true") == "true"
    val logicalTypes: Map[String, org.apache.spark.sql.types.DataType] =
      manifest.schema.getOrElse(physTableSchema)
        .fields.map(f => f.name -> f.dataType).toMap
    new ManifestStatsScan(p, exactRows, root, physTableSchema,
      tblOptions, logicalOf,
      GraftSpj.infoFor(template.sparkSession, manifest),
      needsResolvedRead,
      if (statsPruneOn) pruneFilters else Nil,
      manifest.entries.map(e => e.dir -> e.stats),
      logicalTypes)
  }
}

/** Storage-partitioned-join support ([[SupportsReportPartitioning]]):
  * when the session opts in (`spark.sql.sources.v2.bucketing.enabled`)
  * and the table's layout is key-reconstructible, the snapshot scan
  * reports Iceberg-style `KeyGroupedPartitioning` over the partition
  * spec and plans ONE input partition per partition value (tagged
  * [[HasPartitionKey]]) — two co-partitioned snapshot tables then join
  * with ZERO exchanges (Spark's V2 bucketing / SPJ machinery; at
  * 100 TB this deletes the dominant shuffle of every fact-to-fact
  * equi-join that shares the layout). Reported only for specs built
  * from IDENTITY fields (string/integral/date source) and BUCKET
  * fields — the token round-trips exactly for those; time/truncate
  * transforms and TZ-sensitive identity sources stay unreported
  * (correct, just not exchange-free). */
private object GraftSpj {

  final case class Info(spec: graft.etl.PartitionSpec,
      keyTypes: Seq[org.apache.spark.sql.types.DataType])

  def infoFor(spark: SparkSession,
      m: SnapshotStore.Manifest): Option[Info] = {
    if (!spark.sessionState.conf.getConfString(
        "spark.sql.sources.v2.bucketing.enabled", "false").toBoolean)
      return None
    if (SnapshotStore.hasMixedSpecs(m)) return None
    // DV-bearing tables never reach a raw keyed scan (the DV rewrite
    // replaces the relation; the toBatch guard backstops) — reporting
    // a partitioning for one would be dead code at best
    if (m.entries.exists(_.dv.isDefined)) return None
    // equality-delete tables likewise read through the resolved
    // rewrite, never a raw keyed scan
    if (SnapshotStore.eqDeletesOf(m).nonEmpty) return None
    val schema = m.schema.getOrElse(return None)
    val layout = SnapshotStore.tableLayout(m).getOrElse(return None)
    val spec = SnapshotStore.parseSpec(layout._1)
    import org.apache.spark.sql.types._
    import graft.etl.PartitionSpec._
    val keyTypes = spec.fields.map {
      case Identity(c) =>
        schema.fields.find(_.name == c).map(_.dataType) match {
          // types whose cast-to-string token round-trips exactly and
          // zone-independently
          case Some(t @ (StringType | IntegerType | LongType |
                         ShortType | ByteType | DateType)) => t
          case _ => return None
        }
      case Bucket(_, _) => IntegerType
      // time transforms report an Iceberg-style UNITS-SINCE-EPOCH int
      // key: the canonical token renders ("2024-03", "2024-03-15-08")
      // round-trip exactly for date/NTZ sources (zone-free); a TZ
      // timestamp source is reportable only when this session provably
      // renders like the table's writer (the table.tz prop) — the
      // reference's own months(ts) MergeTree layout then joins
      // exchange-free (README.md:548)
      case TimeUnit(_, c) =>
        schema.fields.find(_.name == c).map(_.dataType) match {
          case Some(DateType) | Some(TimestampNTZType) => IntegerType
          case Some(TimestampType)
              if m.props.get(SnapshotStore.TzProp).exists(w =>
                SnapshotStore.sameRendering(w, spark.sessionState.conf
                  .sessionLocalTimeZone)) => IntegerType
          case _ => return None
        }
      case _ => return None // truncate: prefix grouping is lossy
    }
    Some(Info(spec, keyTypes))
  }

  /** The connector-expression clustering keys, spec order. */
  def keys(info: Info): Array[
      org.apache.spark.sql.connector.expressions.Expression] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import graft.etl.PartitionSpec._
    info.spec.fields.map {
      case Identity(c) => Expressions.identity(c)
      case Bucket(n, c) => Expressions.bucket(n, c)
      case TimeUnit("years", c) => Expressions.years(c)
      case TimeUnit("months", c) => Expressions.months(c)
      case TimeUnit("days", c) => Expressions.days(c)
      case TimeUnit("hours", c) => Expressions.hours(c)
      case other => throw new IllegalStateException(
        s"unreachable: $other filtered by infoFor")
    }.toArray
  }

  /** Typed partition-key row for one dir token, in clustering order. */
  def keyRow(info: Info, token: String): Option[InternalRow] = {
    import graft.etl.PartitionSpec._
    import org.apache.spark.sql.types._
    info.spec.splitToken(token).map { comps =>
      val vals = info.spec.fields.zip(comps).zip(info.keyTypes).map {
        case ((Bucket(_, _), v), _) => v.toInt: Any
        // time-transform tokens parse to the same UNITS-SINCE-EPOCH
        // int the graft years/months/days/hours V2 functions compute
        case ((TimeUnit(u, _), v), _) => GraftTimeUnitMath.ofToken(u, v)
        case ((_, v), StringType) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(v)
        case ((_, v), IntegerType) => v.toInt
        case ((_, v), LongType) => v.toLong
        case ((_, v), ShortType) => v.toShort
        case ((_, v), ByteType) => v.toByte
        case ((_, v), DateType) =>
          java.time.LocalDate.parse(v).toEpochDay.toInt
        case ((f, v), t) => throw new IllegalStateException(
          s"unreachable key type $t for $f value $v")
      }
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(vals.toArray)
    }
  }

  /** The dir token of a data file path
    * (`…/__part=<escaped>/file.parquet`), unescaped with Spark's own
    * inverse. None for a path outside the layout (never happens for
    * manifest-listed dirs). */
  def tokenOf(path: String): Option[String] =
    path.split('/').reverseIterator
      .find(_.startsWith("__part="))
      .map(s => org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(s.stripPrefix("__part=")))
}

/** Timestamp → chain-seq bound resolution, shared by the batch CDF
  * face and the streaming tail: the seq of the latest retained commit
  * stamped at-or-before the instant (so a feed FROM that bound emits
  * commits strictly after it — composing exactly with
  * `TIMESTAMP AS OF`). An instant that provably predates the table
  * bounds at 0 (everything); one inside the EXPIRED range fails
  * loudly — [[SnapshotStore.seqAtTimeOrBefore]] tells them apart on
  * the retained chain, never by exception-message matching. */
private[sources] object GraftSeqBounds {
  /** Accepted forms: epoch millis, `yyyy-MM-dd HH:mm:ss[.SSS]` (UTC)
    * and a bare `yyyy-MM-dd` (midnight UTC — the form every human
    * types first). NOTE the bound is EXCLUSIVE of commits stamped
    * exactly AT the instant — `startingTimestamp = t` composes with
    * `TIMESTAMP AS OF t` (whose state already contains the commit at
    * t), which differs from Delta's inclusive startingTimestamp; the
    * docs and this scaladoc both say so. Parse failures name the
    * offending option and the accepted formats instead of leaking a
    * raw DateTimeParseException. */
  def seqAtOrBefore(root: String, value: String,
      option: String = "timestamp bound"): Long = {
    val millis = value.toLongOption.getOrElse {
      try {
        if (value.trim.matches("""\d{4}-\d{2}-\d{2}"""))
          java.time.LocalDate.parse(value.trim).atStartOfDay()
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        else
          java.time.LocalDateTime.parse(value.trim.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      } catch {
        case e: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"option '$option' value '$value' is not a recognized " +
              "timestamp — accepted: epoch milliseconds, " +
              "'yyyy-MM-dd HH:mm:ss[.SSS]' (UTC), or 'yyyy-MM-dd' " +
              "(midnight UTC); the bound is exclusive (commits " +
              "stamped strictly after it are emitted)", e)
      }
    }
    SnapshotStore.seqAtTimeOrBefore(root, millis)
  }
}

/** The V2 `bucket(n, col)` function: binds to any (int, key) input and
  * replays [[graft.etl.PartitionSpec.Bucket]]'s exact
  * `pmod(hash(col), n)` (Spark Murmur3, seed 42) — the SAME number the
  * partition token records, so a partition key Spark computes through
  * this function can never disagree with the layout on disk. The
  * canonical name is the SPJ compatibility witness across tables. */
private[sources] object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions
      .UnboundFunction {

  override def name(): String = "bucket"
  override def description(): String =
    "graft partition bucket: pmod(murmur3_hash(col), n)"

  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket(n, col) takes two arguments, got ${inputType.simpleString}")
    val keyType = inputType.fields(1).dataType
    new org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[Integer] {
      private val hasher =
        org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
          Seq(org.apache.spark.sql.catalyst.expressions.BoundReference(
            1, keyType, nullable = true)), 42)
      override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
        Array(org.apache.spark.sql.types.IntegerType, keyType)
      override def resultType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String =
        s"graft.bucket(${keyType.catalogString})"
      override def produceResult(input: InternalRow): Integer =
        if (input.isNullAt(1)) null
        else {
          val n = input.getInt(0)
          val h = hasher.eval(input).asInstanceOf[Int]
          Integer.valueOf(((h % n) + n) % n)
        }
    }
  }
}

/** Units-since-epoch arithmetic shared by the V2 time-transform
  * functions and the partition-key parser: the int key of a local
  * calendar field set, and its inverse from the canonical token
  * rendering ([[graft.etl.PartitionSpec.TimeUnit.pattern]]). One
  * definition — the function's computed key and the token-parsed key
  * can never drift. */
private[sources] object GraftTimeUnitMath {
  def years(y: Int): Int = y - 1970
  def months(y: Int, mo: Int): Int = (y - 1970) * 12 + (mo - 1)
  def days(d: java.time.LocalDate): Int = d.toEpochDay.toInt
  def hours(d: java.time.LocalDate, h: Int): Int =
    d.toEpochDay.toInt * 24 + h

  def ofLocal(unit: String, dt: java.time.LocalDateTime): Int =
    unit match {
      case "years" => years(dt.getYear)
      case "months" => months(dt.getYear, dt.getMonthValue)
      case "days" => days(dt.toLocalDate)
      case "hours" => hours(dt.toLocalDate, dt.getHour)
    }

  /** Parse a rendered token ("2024", "2024-03", "2024-03-15",
    * "2024-03-15-08") back to the key. */
  def ofToken(unit: String, tok: String): Int = unit match {
    case "years" => years(tok.toInt)
    case "months" =>
      val Array(y, mo) = tok.split("-"); months(y.toInt, mo.toInt)
    case "days" => days(java.time.LocalDate.parse(tok))
    case "hours" => hours(
      java.time.LocalDate.parse(tok.substring(0, 10)),
      tok.substring(11, 13).toInt)
  }
}

/** The V2 `years/months/days/hours(col)` functions — the SPJ witnesses
  * for time-transform partition specs, exactly like
  * [[GraftBucketFunction]] for bucket specs: Spark's storage-
  * partitioned-join machinery resolves a reported `months(ts)`
  * clustering key by loading THIS function and binding it; the bound
  * canonical name is the cross-table compatibility witness, and
  * `produceResult` computes the SAME units-since-epoch key the
  * partition token records. Date and NTZ sources are zone-free; TZ
  * timestamps compute under the session zone CAPTURED AT BIND — sound
  * because [[GraftSpj.infoFor]] only reports a TZ-source transform
  * when the session provably renders like the table's writer. */
private[sources] class GraftTimeUnitFunction(unit: String)
    extends org.apache.spark.sql.connector.catalog.functions
      .UnboundFunction {

  override def name(): String = unit
  override def description(): String =
    s"graft partition time transform: $unit since epoch (int)"

  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 1,
      s"$unit(col) takes one argument, got ${inputType.simpleString}")
    val srcType = inputType.fields(0).dataType
    import org.apache.spark.sql.types._
    val zoneId: String = srcType match {
      case TimestampType =>
        SparkSession.active.sessionState.conf.sessionLocalTimeZone
      case DateType | TimestampNTZType => "UTC"
      case other => throw new UnsupportedOperationException(
        s"graft $unit() binds to date/timestamp inputs, got " +
          other.catalogString)
    }
    new org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[Integer] {
      @transient private lazy val zone = java.time.ZoneId.of(zoneId)
      override def inputTypes(): Array[DataType] = Array(srcType)
      override def resultType(): DataType = IntegerType
      override def name(): String = unit
      override def canonicalName(): String =
        s"graft.$unit(${srcType.catalogString})"
      override def produceResult(input: InternalRow): Integer =
        if (input.isNullAt(0)) null
        else srcType match {
          case DateType =>
            val d = java.time.LocalDate.ofEpochDay(input.getInt(0).toLong)
            Integer.valueOf(
              GraftTimeUnitMath.ofLocal(unit, d.atStartOfDay()))
          case _ =>
            val us = input.getLong(0)
            val inst = java.time.Instant.ofEpochSecond(
              Math.floorDiv(us, 1000000L),
              Math.floorMod(us, 1000000L) * 1000L)
            val local = srcType match {
              case TimestampNTZType => java.time.LocalDateTime
                .ofInstant(inst, java.time.ZoneOffset.UTC)
              case _ => java.time.LocalDateTime.ofInstant(inst, zone)
            }
            Integer.valueOf(GraftTimeUnitMath.ofLocal(unit, local))
        }
    }
  }
}

/** A [[org.apache.spark.sql.execution.datasources.FilePartition]] that
  * knows its partition KEY — the [[HasPartitionKey]] face Spark's SPJ
  * machinery groups on. Subclassing (not wrapping) keeps the parquet
  * reader factory's `FilePartition` pattern matches working. */
private class KeyedFilePartition(index: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(
    index, files)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** A real [[ParquetScan]] (every FileScan behavior inherited — input
  * partition planning, vectorized batches, exchange-reuse equality)
  * that additionally (a) knows its exact cardinality from the manifest
  * when unfiltered — size estimate unchanged (file bytes), row count
  * exact — and (b) answers `toMicroBatchStream` with the commit-chain
  * tail ([[GraftSnapshotMicroBatchStream]]). */
private class ManifestStatsScan(p: ParquetScan, val rows: Option[Long],
    val root: String, physTableSchema: StructType,
    tblOptions: CaseInsensitiveStringMap,
    val logicalOf: Map[String, String] = Map.empty,
    val spj: Option[GraftSpj.Info] = None,
    val needsResolvedRead: Boolean = false,
    val pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    pruneEntries: Seq[(String, Option[SnapshotStore.EntryStats])] = Nil,
    logicalTypes: Map[String, org.apache.spark.sql.types.DataType] =
      Map.empty)
    extends ParquetScan(p.sparkSession, p.hadoopConf, p.fileIndex,
      p.dataSchema, p.readDataSchema, p.readPartitionSchema,
      p.pushedFilters, p.options, p.pushedAggregate, p.partitionFilters,
      p.dataFilters, p.pushedVariantExtractions)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** A raw file scan cannot anti-apply deletion vectors — batch
    * execution of a DV-bearing table is only legal through the
    * analysis rewrite ([[graft.plans.SnapshotDvReadRewrite]], which
    * replaces the relation before any scan is built). Reaching here
    * with DVs means the session lacks [[graft.GraftExtensions]]:
    * refuse loudly instead of resurrecting deleted rows. The
    * streaming tail is untouched (it reads per-commit APPENDED dirs,
    * which never carry vectors at birth). */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    if (needsResolvedRead) throw new UnsupportedOperationException(
      s"snapshot table at $root carries deletion vectors, equality " +
        "deletes or nested renames — batch reads need the " +
        "resolved-read rewrite from graft.GraftExtensions " +
        "(spark.sql.extensions=graft.GraftExtensions), or run " +
        "SnapshotStore.compact to fold the deletes into clean files")
    super.toBatch
  }

  /** MANIFEST-STATS FILE SKIPPING: relative entry dirs whose per-entry
    * `[min,max]` prove NO row can match the pushed data filters —
    * whole dirs dropped BEFORE task planning or footer reads
    * ([[GraftStatsPrune]]; Iceberg-manifest economics at 100 TB: a
    * point lookup touches a handful of entries, not every file). A
    * filter is a conjunction: ANY provably-unsatisfiable conjunct
    * kills the entry. DV entries prune soundly (stats cover a superset
    * of live rows). */
  private lazy val prunedDirs: Set[String] =
    if (pruneFilters.isEmpty) Set.empty
    else pruneEntries.iterator.collect {
      case (dir, Some(st)) if pruneFilters.exists(f =>
        GraftStatsPrune.cannotMatch(st, logicalTypes, f)) => dir
    }.toSet

  /** FILE-grain skipping inside KEPT dirs: per-file sort-column
    * `[min,max]` ([[SnapshotStore.FileStats]] — recorded by every
    * commit; after a [[SnapshotStore.rewriteDataFiles]] binpack the
    * files are contiguous, non-overlapping sort runs). The same
    * conservative [[GraftStatsPrune]] evaluation decides per file —
    * a narrow sort-range probe on a binpacked 100 GB partition plans
    * ONE file, not every slice. DV entries prune soundly (file stats
    * cover a superset of live rows); files without recorded stats are
    * always kept. */
  private lazy val filePrune
      : Map[String, Map[String, SnapshotStore.EntryStats]] =
    if (pruneFilters.isEmpty) Map.empty
    else pruneEntries.iterator.collect {
      case (dir, Some(st)) if st.files.nonEmpty =>
        dir -> st.files.map(fs => fs.name ->
          SnapshotStore.EntryStats(fs.rows, fs.cols)).toMap
    }.toMap

  /** File's parent dir relative to the table root (scheme-insensitive;
    * an unrecognizable spelling maps to itself and is therefore KEPT —
    * conservative). */
  private def relDirOfParent(parent: String): String = {
    val pp = parent.stripPrefix("file:")
    val r = root.stripPrefix("file:")
    if (pp.startsWith(r + "/")) pp.substring(r.length + 1) else pp
  }

  private def keepFile(
      f: org.apache.spark.sql.execution.datasources.PartitionedFile)
      : Boolean = {
    val p = f.filePath.toPath
    val dir = relDirOfParent(p.getParent.toString)
    !prunedDirs.contains(dir) &&
      !filePrune.get(dir).exists(_.get(p.getName).exists(st =>
        pruneFilters.exists(fl =>
          GraftStatsPrune.cannotMatch(st, logicalTypes, fl))))
  }

  /** Pruned file partitions, original packing minus skipped files
    * (emptied partitions dropped, indexes re-sequenced). The SPJ path
    * ([[keyedPartitions]]) deliberately stays UNPRUNED: dropping a
    * partition value from a reported KeyGroupedPartitioning would
    * change the key set the join co-location contract is checked
    * against — correct either way, but exchange-free is worth more
    * than skipping files in a fact-to-fact join. */
  override def partitions
      : Seq[org.apache.spark.sql.execution.datasources.FilePartition] = {
    val base = super.partitions
    if (prunedDirs.isEmpty && filePrune.isEmpty) base
    else base.iterator
      .map(fp => fp.files.filter(keepFile))
      .filter(_.nonEmpty)
      .zipWithIndex
      .map { case (fs, i) =>
        org.apache.spark.sql.execution.datasources.FilePartition(i, fs) }
      .toSeq
  }

  /** One [[KeyedFilePartition]] per partition VALUE among the selected
    * files (several manifest parts of one value merge; pushdown-pruned
    * files are simply absent), key order deterministic. None when any
    * file's token fails to key (fall back to unreported). */
  private lazy val keyedPartitions: Option[Seq[KeyedFilePartition]] =
    spj.flatMap { info =>
      val files = super.partitions.flatMap(_.files)
      // decoded hadoop-Path form: the __part= segment is exactly the
      // escapePathName spelling on disk, which tokenOf un-escapes
      val grouped = files.groupBy(f =>
        GraftSpj.tokenOf(f.filePath.toPath.toString))
      if (grouped.contains(None)) None
      else {
        val keyed = grouped.toSeq
          .map { case (tok, fs) => (tok.get, fs) }
          .sortBy(_._1)
          .map { case (tok, fs) =>
            GraftSpj.keyRow(info, tok).map(k => (k, fs)) }
        if (keyed.exists(_.isEmpty)) None
        else Some(keyed.flatten.zipWithIndex.map { case ((k, fs), i) =>
          new KeyedFilePartition(i, fs.toArray, k)
        })
      }
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedPartitions match {
      case Some(ps) if ps.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(GraftSpj.keys(spj.get), ps.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    keyedPartitions match {
      case Some(ps) if ps.nonEmpty => ps.toArray
      case _ => super.planInputPartitions()
    }
  /** The plan-facing schema reports LOGICAL names (the relation's
    * attributes are matched against it by name); the inherited
    * readDataSchema keeps the PHYSICAL spelling the file readers
    * match against — rows line up positionally. */
  override def readSchema(): StructType = {
    val s = super.readSchema()
    if (logicalOf.isEmpty) s
    else StructType(s.fields.map(f =>
      f.copy(name = logicalOf.getOrElse(f.name, f.name))))
  }
  override def estimateStatistics(): Statistics = {
    val base = super.estimateStatistics()
    rows match {
      case Some(r) => new Statistics {
        override def sizeInBytes(): OptionalLong = base.sizeInBytes()
        override def numRows(): OptionalLong = OptionalLong.of(r)
      }
      case None => base
    }
  }
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftSnapshotMicroBatchStream(p.sparkSession, root,
      physTableSchema, tblOptions)
  /** Exchange/scan reuse compares scans for equality; ParquetScan's
    * equals ignores the extra fields here. Two scans of one fileIndex
    * always share the same manifest (hence rows/logicalOf), so this is
    * hygiene, not an observed defect — but keep equality exact. */
  override def equals(obj: Any): Boolean = obj match {
    case o: ManifestStatsScan =>
      super.equals(o) && rows == o.rows && root == o.root &&
        logicalOf == o.logicalOf && spj == o.spj &&
        needsResolvedRead == o.needsResolvedRead &&
        pruneFilters == o.pruneFilters
    case _ => false
  }
  override def hashCode(): Int =
    31 * super.hashCode() +
      (rows, root, logicalOf, spj, needsResolvedRead, pruneFilters)
        .hashCode()
}

/** The CHANGE-FEED view of a snapshot table — schema = data schema +
  * `_change_type` (string), readable BOTH ways under the same option
  * (Delta parity):
  *   - `readStream` tails the commit chain per commit
  *     ([[GraftSnapshotCdfMicroBatchStream]]);
  *   - batch `read` emits the changes between two chain sequences —
  *     `option("startingSeq", a)` (default 0) exclusive to
  *     `option("endingSeq", b)` (default: the current head), the
  *     DSV2 face of [[SnapshotStore.changeFeed]] with identical
  *     per-commit-replay semantics. `startingTimestamp` /
  *     `endingTimestamp` (epoch millis, or `yyyy-MM-dd HH:mm:ss[.SSS]`
  *     UTC) address the same bounds by COMMIT WALL TIME: the state
  *     `TIMESTAMP AS OF t` plus the feed from `startingTimestamp = t`
  *     replay every later state exactly.
  * Loaded by the provider when `option("readChangeFeed", "true")` is
  * set. */
class GraftSnapshotCdfTable(spark: SparkSession, root: String,
    dataSchema: StructType, tblOptions: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  require(!dataSchema.fieldNames.exists(_.equalsIgnoreCase("_change_type")),
    "readChangeFeed cannot tag a table that already has a " +
      "_change_type column — the tag would shadow it")

  private val cdfSchema = StructType(dataSchema.fields :+
    StructField("_change_type", StringType, nullable = false))

  override def name(): String =
    s"graft_snapshot_cdf_${new java.io.File(root).getName}"

  override def schema(): StructType = cdfSchema

  override def capabilities(): util.Set[TableCapability] = {
    val caps = new util.HashSet[TableCapability]()
    caps.add(TableCapability.MICRO_BATCH_READ)
    caps.add(TableCapability.BATCH_READ)
    caps
  }

  /** The streams read FILES, which spell physical names; their row
    * output is positional against this table's logical schema. */
  private val physDataSchema = SnapshotStore.physicalSchema(dataSchema)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new Scan {
    override def readSchema(): StructType = cdfSchema
    override def description(): String = s"graft-snapshot-cdf $root"
    override def toMicroBatchStream(checkpointLocation: String)
        : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
      new GraftSnapshotCdfMicroBatchStream(spark, root, physDataSchema,
        tblOptions)
    override def toBatch: org.apache.spark.sql.connector.read.Batch = {
      // reuse the stream's per-commit planner for one fixed range: the
      // batch face and the tail must never diverge semantically.
      // Timestamp addressing composes with TIMESTAMP AS OF: the state
      // AS OF t plus the changes with startingTimestamp=t reconstruct
      // every later state — so startingTimestamp resolves to the seq
      // of the latest commit stamped ≤ t (range bounds are EXCLUSIVE
      // below), i.e. "changes committed strictly after t".
      def seqAt(opt: String): Option[Long] =
        Option(tblOptions.get(opt))
          .map(GraftSeqBounds.seqAtOrBefore(root, _, opt))
      require(!(tblOptions.containsKey("startingSeq") &&
          tblOptions.containsKey("startingTimestamp")),
        "readChangeFeed: give startingSeq OR startingTimestamp, not both")
      require(!(tblOptions.containsKey("endingSeq") &&
          tblOptions.containsKey("endingTimestamp")),
        "readChangeFeed: give endingSeq OR endingTimestamp, not both")
      val from = Option(tblOptions.get("startingSeq"))
        .map(_.toLong).orElse(seqAt("startingTimestamp")).getOrElse(0L)
      val to = Option(tblOptions.get("endingSeq")).map(_.toLong)
        .orElse(seqAt("endingTimestamp"))
        .getOrElse(SnapshotStore.currentSeq(root))
      require(from <= to, s"batch readChangeFeed range is inverted: " +
        s"startingSeq=$from > endingSeq=$to")
      val stream = new GraftSnapshotCdfMicroBatchStream(spark, root,
        physDataSchema, tblOptions)
      val parts = stream.planInputPartitions(
        GraftSeqOffset(from), GraftSeqOffset(to))
      new org.apache.spark.sql.connector.read.Batch {
        override def planInputPartitions()
            : Array[org.apache.spark.sql.connector.read.InputPartition] =
          parts
        override def createReaderFactory()
            : org.apache.spark.sql.connector.read.PartitionReaderFactory =
          stream.createReaderFactory()
      }
    }
  }
}

/** `spark.read.format("graft-snapshot")` — option-addressed reader.
  * `load(path)` (or `.option("path", …)`) names the table root;
  * `.option("asOf", id)` time-travels to a retained manifest;
  * `readStream` with `.option("readChangeFeed", "true")` tails the
  * commit chain as `_change_type`-tagged change rows. Always
  * read-only: SQL DML needs a catalog identity, so writes go through
  * [[GraftSnapshotCatalog]]. */
class GraftSnapshotProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  /** One resolve per (provider instance, options): Spark calls
    * inferSchema then getTable with the same option map on one
    * instance — without the memo the manifest would be parsed twice,
    * and a commit racing between the two calls could resolve two
    * DIFFERENT snapshots for one load (the "pointer resolved once"
    * contract). CaseInsensitiveStringMap equality is entry-set
    * equality, so a same-options re-call reuses the table — EXCEPT
    * through a tag: a tag can be legitimately moved (untag + re-tag,
    * the sanctioned two-step), so its target id is re-resolved on
    * every call and joins the cache key; a moved tag invalidates,
    * same options or not. */
  private var cachedKey: CaseInsensitiveStringMap = _
  private var cachedTagId: Option[Long] = None
  private var cachedTable: Table = _

  private def resolve(options: CaseInsensitiveStringMap): Table =
    synchronized {
      val root0 = Option(options.get("path"))
      // `tag` is the name-addressed form of `asOf` (the reader twin
      // of `VERSION AS OF '<name>'`); `branch` reads a WAP branch's
      // staged head ([[SnapshotStore.branches]]) — each resolved
      // through the expire-pinned refs to a manifest id; naming more
      // than one pin is refused (they could disagree silently)
      val tagOpt = Option(options.get("tag"))
      val branchOpt = Option(options.get("branch"))
      val asOfOpt0 = Option(options.get("asOf")).map(_.toLong)
      require(Seq(tagOpt, branchOpt, asOfOpt0).count(_.isDefined) <= 1,
        "graft-snapshot: options 'tag', 'branch' and 'asOf' are " +
          "mutually exclusive — each pins the snapshot to read")
      def rootOrFail: String = root0.getOrElse(
        throw new IllegalArgumentException(
          "graft-snapshot needs a table root: .load(root) or " +
            ".option(\"path\", root)"))
      // tags and branches can legitimately MOVE (untag+retag; branch
      // commits) — their target id re-resolves on every call and joins
      // the cache key
      val tagId = tagOpt.map(t => SnapshotStore.resolveTag(rootOrFail, t).id)
        .orElse(branchOpt.map(b =>
          SnapshotStore.branchManifest(rootOrFail, b).id))
      if (cachedKey == null || cachedKey != options ||
          cachedTagId != tagId) {
        val root = root0.getOrElse(
          throw new IllegalArgumentException(
            "graft-snapshot needs a table root: .load(root) or " +
              ".option(\"path\", root)"))
        val asOf = asOfOpt0.orElse(tagId)
        val cdf = Option(options.get("readChangeFeed"))
          .exists(_.equalsIgnoreCase("true"))
        cachedTable =
          if (cdf) {
            require(asOf.isEmpty, "readChangeFeed cannot combine with " +
              "asOf: a pinned historical snapshot has no future changes " +
              "to tail")
            val spark = SparkSession.active
            val schema = SnapshotStore.current(root)
              .getOrElse(throw new IllegalStateException(
                s"no snapshot at $root"))
              .schema.getOrElse(throw new IllegalStateException(
                s"readChangeFeed at $root: the manifest predates " +
                  "schema-carrying commits — the change rows cannot " +
                  "be typed"))
            new GraftSnapshotCdfTable(spark, root, schema, options)
          } else GraftSnapshotTables.load(SparkSession.active, root, asOf,
            options)
        cachedKey = options
        cachedTagId = tagId
      }
      cachedTable
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    resolve(new CaseInsensitiveStringMap(properties))
}

/** A [[TableCatalog]] over a warehouse directory of snapshot roots:
  * table `snap.t` resolves to `<warehouse>/t` (namespaces map to
  * subdirectories — a directory WITHOUT a MANIFEST is a namespace, one
  * WITH a MANIFEST is a table), `VERSION AS OF n` loads retained
  * manifest `n` read-only. DML goes through the locked commit paths:
  * INSERT INTO appends, `CALL snap.system.merge_into(…)` merges. DDL
  * (create/alter/drop) stays rejected — table lifecycle belongs to the
  * Scala API that owns the directory layout. */
class GraftSnapshotCatalog extends TableCatalog
    with SupportsNamespaces with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must point at a directory " +
          "of snapshot table roots"))
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name())).mkString("/")

  private def tableExistsAt(root: String): Boolean =
    new java.io.File(s"$root/MANIFEST").isFile

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    val dir = new java.io.File((warehouse +: namespace).mkString("/"))
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && tableExistsAt(f.toString))
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (tableExistsAt(root))
      return GraftSnapshotTables.load(SparkSession.active, root, None,
        CaseInsensitiveStringMap.empty(), writable = true)
    // `name$kind` METADATA TABLES (Iceberg-style inspection surface,
    // [[GraftMetaTables]]) — resolved only when no real table dir
    // shadows the spelled name, so a user table legitimately named
    // with a '$' always wins
    val n = ident.name()
    val cut = n.lastIndexOf('$')
    if (cut > 0) {
      val base = n.substring(0, cut)
      val kind = n.substring(cut + 1)
      val baseRoot = rootOf(Identifier.of(ident.namespace(), base))
      if (GraftMetaTables.Kinds(kind) && tableExistsAt(baseRoot))
        return GraftMetaTables.load(baseRoot, base, kind)
    }
    throw new NoSuchTableException(ident)
  }

  /** SQL time travel: `VERSION AS OF n` arrives here as a string — a
    * manifest id, or a TAG name (`VERSION AS OF 'release-1'`) resolved
    * through the expire-pinned refs. Read-only — writing into a
    * historical snapshot would fork the manifest history. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!tableExistsAt(root)) throw new NoSuchTableException(ident)
    val id = version.toLongOption.getOrElse(
      SnapshotStore.resolveTag(root, version).id)
    GraftSnapshotTables.load(SparkSession.active, root, Some(id),
      CaseInsensitiveStringMap.empty(), writable = false)
  }

  /** SQL time travel by wall time: `TIMESTAMP AS OF t` arrives here in
    * MICROseconds since epoch (the DSV2 contract); resolution picks
    * the latest retained commit stamped at or before it
    * ([[SnapshotStore.manifestAtTime]]). Read-only, like VERSION AS
    * OF. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!tableExistsAt(root)) throw new NoSuchTableException(ident)
    val id = SnapshotStore.manifestAtTime(root,
      Math.floorDiv(timestamp, 1000L)).id
    GraftSnapshotTables.load(SparkSession.active, root, Some(id),
      CaseInsensitiveStringMap.empty(), writable = false)
  }

  override def tableExists(ident: Identifier): Boolean =
    tableExistsAt(rootOf(ident))

  private def readOnly: Nothing = throw new UnsupportedOperationException(
    "graft snapshot catalog supports table DDL (CREATE TABLE [AS " +
      "SELECT] ... PARTITIONED BY (col) TBLPROPERTIES " +
      "('sort_col'='col'), DROP TABLE), DML (INSERT INTO / OVERWRITE, " +
      "MERGE INTO, UPDATE, DELETE), ALTER TABLE ADD / RENAME / DROP " +
      "COLUMN (metadata-only commits) and operations (CALL " +
      "system.merge_into / history / expire / compact / rollback / " +
      "tag) — but not table RENAME (it would invalidate every " +
      "reader's resolved root) nor other ALTERs (retype/reorder would " +
      "rewrite history readers depend on)")

  /** `CREATE TABLE snap.t (cols…) PARTITIONED BY (m[, region,
    * bucket(16, id)]) TBLPROPERTIES ('sort_col'='ts')` — and the CTAS
    * form, where Spark calls this then appends the SELECT through the
    * table's own WriteBuilder (the locked
    * [[SnapshotStore.appendPartitions]] commit). The layout is a
    * PARTITION SPEC ([[graft.etl.PartitionSpec]] — identity columns
    * and/or bucket transforms) plus a required within-partition sort
    * column — both become durable manifest props, so later name-only
    * entry points never re-state them. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = rootOf(ident)
    if (tableExistsAt(root))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    // the partition layout is a SPEC ([[graft.etl.PartitionSpec]]):
    // one or more identity columns and/or bucket(n, col) transforms —
    // `PARTITIONED BY (m)`, `PARTITIONED BY (m, region)`,
    // `PARTITIONED BY (m, bucket(16, id))` all map to manifest specs
    val partCol = {
      if (partitions.isEmpty) throw new UnsupportedOperationException(
        "graft snapshot CREATE TABLE needs a PARTITIONED BY clause " +
          "(identity columns and/or bucket(n, col) — the manifest's " +
          "partition grain)")
      // matched through the PUBLIC Transform surface (name/references/
      // arguments) — the concrete transform case classes are
      // private[sql]
      def oneTopLevelRef(t: Transform): Option[String] =
        t.references().toSeq match {
          case Seq(r) if r.fieldNames().length == 1 =>
            Some(r.fieldNames()(0))
          case _ => None
        }
      val fields = partitions.toSeq.map { t =>
        def bad(): Nothing = throw new UnsupportedOperationException(
          "graft snapshot CREATE TABLE supports identity, " +
            "bucket(n, col), years/months/days/hours(col) and " +
            "truncate(w, col) partition transforms on single " +
            s"top-level columns only, got: $t")
        def intArg(): Int = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value() match {
              case num: Number => num.intValue()
              case _ => bad()
            }
        }.getOrElse(bad())
        t.name() match {
          case "identity" =>
            graft.etl.PartitionSpec.Identity(
              oneTopLevelRef(t).getOrElse(bad()))
          case "bucket" =>
            graft.etl.PartitionSpec.Bucket(intArg(),
              oneTopLevelRef(t).getOrElse(bad()))
          case u @ ("years" | "months" | "days" | "hours") =>
            graft.etl.PartitionSpec.TimeUnit(u,
              oneTopLevelRef(t).getOrElse(bad()))
          case "truncate" =>
            graft.etl.PartitionSpec.Truncate(intArg(),
              oneTopLevelRef(t).getOrElse(bad()))
          case _ => bad()
        }
      }
      graft.etl.PartitionSpec(fields).canonical
    }
    val sortCol = Option(properties.get("sort_col")).getOrElse(
      throw new IllegalArgumentException(
        "graft snapshot CREATE TABLE requires TBLPROPERTIES " +
          "('sort_col'='<column>') — the within-partition storage " +
          "sort (the MergeTree ORDER BY analogue)"))
    // any OTHER user property would be silently dropped (createEmpty
    // persists only the layout props) — refuse loudly instead; keys
    // Spark itself injects on every CREATE pass through
    val engineReserved = Set("sort_col", "provider", "owner", "location",
      "comment", "external", "is_managed_location")
    val unknown = {
      val it = properties.keySet().iterator()
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val k = it.next()
        if (!engineReserved(k.toLowerCase) && !k.startsWith("option."))
          buf += k
      }
      buf.toSeq
    }
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      "graft snapshot CREATE TABLE cannot honor TBLPROPERTIES " +
        s"${unknown.sorted.mkString("(", ", ", ")")} — manifests " +
        "persist only the layout (sort_col); remove them rather than " +
        "lose them silently")
    SnapshotStore.createEmpty(SparkSession.active, root, schema,
      partCol, sortCol)
    loadTable(ident)
  }

  /** `ALTER TABLE snap.t ADD COLUMN(S) …` — explicit schema evolution
    * as a metadata-only commit ([[SnapshotStore.addColumns]]): every
    * existing dir reads the new column as null, time travel keeps each
    * snapshot's own shape. `ALTER TABLE snap.t RENAME COLUMN a TO b` —
    * the column-ID rename ([[SnapshotStore.renameColumns]]): the field
    * keeps its stable id and PHYSICAL file name, only the manifest's
    * logical name (and the stats/layout keys) move, so every existing
    * parquet file stays readable and time travel before the rename
    * sees the old name. `ALTER TABLE snap.t DROP COLUMN c` — the
    * column-ID drop ([[SnapshotStore.dropColumns]]): metadata-only,
    * files keep the physical column, time travel before the drop sees
    * it, and the retired registry guarantees a re-ADD of the name
    * binds to a FRESH column, not the old values. Everything else
    * (retype/reorder/comment) stays rejected: type changes are refused
    * at every commit boundary by design, and the rest would rewrite
    * history readers depend on. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!tableExistsAt(root)) throw new NoSuchTableException(ident)
    val adds = scala.collection.mutable.ArrayBuffer[StructField]()
    val nestedAdds = scala.collection.mutable
      .ArrayBuffer[(Seq[String], StructField)]()
    val renames = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val nestedRenames = scala.collection.mutable
      .ArrayBuffer[(Seq[String], String)]()
    val drops = scala.collection.mutable.ArrayBuffer[String]()
    val nestedDrops = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val widens = scala.collection.mutable
      .ArrayBuffer[(String, org.apache.spark.sql.types.DataType)]()
    changes.foreach {
      case a: TableChange.AddColumn =>
        // new columns APPEND (always last in their struct): an
        // explicit FIRST/AFTER would be silently ignored — refuse
        if (a.position() != null)
          throw new UnsupportedOperationException(
            "graft snapshot ALTER TABLE appends new columns at the " +
              "END of the schema — FIRST/AFTER placement is not " +
              "honored, so it is refused rather than ignored")
        val f0 = StructField(a.fieldNames().last, a.dataType(),
          nullable = a.isNullable)
        val f = Option(a.comment()).map(f0.withComment).getOrElse(f0)
        if (a.fieldNames().length == 1) adds += f
        else nestedAdds += ((a.fieldNames().init.toSeq, f))
      case r: TableChange.RenameColumn =>
        if (r.fieldNames().length == 1)
          renames += ((r.fieldNames()(0), r.newName()))
        else nestedRenames += ((r.fieldNames().toSeq, r.newName()))
      case d: TableChange.DeleteColumn =>
        if (d.fieldNames().length == 1) drops += d.fieldNames()(0)
        else nestedDrops += d.fieldNames().toSeq
      case u: TableChange.UpdateColumnType =>
        if (u.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "graft snapshot ALTER TABLE widens TOP-LEVEL columns " +
              s"only, got nested: ${u.fieldNames().mkString(".")}")
        widens += ((u.fieldNames()(0), u.newDataType()))
      case other => throw new UnsupportedOperationException(
        s"graft snapshot ALTER TABLE supports ADD / RENAME / DROP " +
          s"COLUMN (top-level and struct subfields) and ALTER COLUMN " +
          s"TYPE (widening), got: $other — reorder/comment would " +
          "rewrite history that readers depend on")
    }
    if (Seq[scala.collection.mutable.ArrayBuffer[_]](
        adds, nestedAdds, renames, nestedRenames, drops, nestedDrops,
        widens).count(_.nonEmpty) > 1)
      throw new UnsupportedOperationException(
        "graft snapshot ALTER TABLE cannot mix ADD/RENAME/DROP COLUMN " +
          "(top-level or nested) or TYPE widening in one statement — " +
          "run them as separate commits")
    if (renames.nonEmpty) SnapshotStore.renameColumns(root, renames.toSeq)
    else if (nestedRenames.nonEmpty)
      SnapshotStore.renameNestedColumns(root, nestedRenames.toSeq)
    else if (drops.nonEmpty) SnapshotStore.dropColumns(root, drops.toSeq)
    else if (nestedDrops.nonEmpty)
      SnapshotStore.dropNestedColumns(root, nestedDrops.toSeq)
    else if (widens.nonEmpty)
      SnapshotStore.widenColumnTypes(root, widens.toSeq)
    else if (nestedAdds.nonEmpty)
      SnapshotStore.addNestedColumns(root, nestedAdds.toSeq)
    else SnapshotStore.addColumns(root, adds.toSeq)
    loadTable(ident)
  }

  /** `DROP TABLE snap.t` — removes the root (manifest history, chain
    * slots and data dirs). The operator's prerogative: time travel
    * into a dropped table is gone with it. Concurrent writers on other
    * hosts are not fenced (same as dropping any shared directory). */
  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!tableExistsAt(root)) false
    else SnapshotStore.withTableLock(root) {
      // under the lock: a same-host in-flight commit either finishes
      // before the delete or starts after it (and then fails loudly on
      // the missing manifest) — without it the recursive delete races
      // the commit and a half-deleted table gets resurrected
      if (!tableExistsAt(root)) false
      else {
        graft.util.Fs.deleteRecursively(new java.io.File(root))
        true
      }
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly

  // ---- namespaces (SHOW NAMESPACES / SHOW TABLES IN ns) ------------------

  private def namespaceDir(namespace: Array[String]): java.io.File =
    new java.io.File((warehouse +: namespace).mkString("/"))

  private def isNamespaceDir(f: java.io.File): Boolean =
    f.isDirectory && !tableExistsAt(f.toString)

  override def listNamespaces(): Array[Array[String]] =
    Option(new java.io.File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(isNamespaceDir)
      .map(f => Array(f.getName))

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = namespaceDir(namespace)
    if (!isNamespaceDir(dir)) throw new NoSuchNamespaceException(namespace)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(isNamespaceDir)
      .map(f => namespace :+ f.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || isNamespaceDir(namespaceDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly
  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = readOnly

  // ---- functions (the SPJ bucket transform) -------------------------------

  /** [[org.apache.spark.sql.connector.catalog.FunctionCatalog]] face:
    * Spark's V2-bucketing/SPJ machinery resolves a reported
    * `bucket(n, col)` clustering key by loading THIS function from the
    * relation's catalog and binding it — the bound function's
    * canonical name is the cross-table compatibility witness (two
    * graft tables bucketed with the same (n, key type) are
    * co-partitioned), and `produceResult` replays the exact
    * pmod(hash(col), n) the partition spec writes. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array("bucket", "years", "months", "days", "hours")
      .map(Identifier.of(namespace, _))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name() match {
      case "bucket" => GraftBucketFunction
      case u @ ("years" | "months" | "days" | "hours") =>
        new GraftTimeUnitFunction(u)
      case other => throw new UnsupportedOperationException(
        s"unknown function '$other' — this catalog provides 'bucket' " +
          "and 'years'/'months'/'days'/'hours' (the partition-spec " +
          "transforms, for storage-partitioned joins)")
    }

  // ---- procedures (CALL snap.system.merge_into(…)) -----------------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    SnapProcedures.All.map(d => Identifier.of(Array("system"), d.name))
      .toArray

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    SnapProcedures.All.find(_.name == ident.name())
      .map(new GraftSnapshotProcedure(warehouse, _))
      .getOrElse {
        val sigs = SnapProcedures.All.map(d =>
          s"system.${d.name}(${d.params.map(_.name()).mkString(", ")})")
        throw new UnsupportedOperationException(
          s"unknown procedure '${ident.name()}' — this catalog provides " +
            sigs.init.mkString(", ") + " and " + sigs.last)
      }
}

/** One `CALL <catalog>.system.<name>(…)` procedure: its parameters
  * (the first is always `table`, resolved to an existing root before
  * `body` runs) and a `body` that turns the root and the decoded
  * arguments into rows of `resultSchema`. */
private[sources] final case class SnapProcedureDef(
    name: String,
    description: String,
    params: Seq[ProcedureParameter],
    resultSchema: StructType,
    body: (String, SnapProcedureDef.Args) => Seq[InternalRow])

private[sources] object SnapProcedureDef {
  /** The decoded arguments, in parameter order. */
  final class Args(values: IndexedSeq[Any]) {
    def str(i: Int): String = values(i).asInstanceOf[String]
    def int(i: Int): Int = values(i).asInstanceOf[Int]
    def long(i: Int): Long = values(i).asInstanceOf[Long]
  }
}

/** Every catalog procedure, unbound and bound alike, is this one class
  * over a [[SnapProcedureDef]] (arguments do not change the result
  * shape, so binding returns the procedure itself): each argument is
  * decoded once — a NULL refuses before any [[SnapshotStore]] call —
  * the table resolves through [[SnapProcedures.existingRoot]], and the
  * body's rows come back as one local scan. A new procedure is one
  * entry in [[SnapProcedures.All]]. */
private[sources] final class GraftSnapshotProcedure(warehouse: String,
    d: SnapProcedureDef) extends UnboundProcedure with BoundProcedure {

  override def name(): String = d.name
  override def description(): String = d.description
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false // reads or commits live state
  override def parameters(): Array[ProcedureParameter] = d.params.toArray

  override def call(input: InternalRow): util.Iterator[Scan] = {
    val args = new SnapProcedureDef.Args(d.params.indices.map { i =>
      val p = d.params(i)
      if (input.isNullAt(i))
        throw new IllegalArgumentException(
          s"CALL system.${d.name}: argument '${p.name()}' must not be NULL")
      p.dataType() match {
        case StringType => input.getUTF8String(i).toString
        case LongType => input.getLong(i)
        case IntegerType => input.getInt(i)
      }
    })
    val root = SnapProcedures.existingRoot(warehouse, args.str(0))
    // NOT named `rows`: inside the anonymous LocalScan that name
    // resolves to the override itself — a self-tail-call scalac
    // compiles into an infinite loop
    val resultRows = d.body(root, args).toArray
    util.Collections.singletonList[Scan](new LocalScan {
      override def readSchema(): StructType = d.resultSchema
      override def rows(): Array[InternalRow] = resultRows
    }).iterator()
  }
}

/** The catalog's CALL procedures as one ordered table, plus their
  * shared plumbing: table-name → root resolution (ONE definition —
  * quoting/namespace changes must not silently diverge across
  * procedures) and the existence/layout checks. */
private[sources] object SnapProcedures {
  import org.apache.spark.sql.types.{DataType, TimestampType}

  def existingRoot(warehouse: String, table: String): String = {
    val r = (warehouse +: table.split('.').toSeq).mkString("/")
    if (SnapshotStore.current(r).isEmpty)
      throw new IllegalStateException(
        s"no snapshot table '$table' under $warehouse")
    r
  }

  def layoutOf(r: String, table: String,
      what: String): (String, String) =
    SnapshotStore.current(r).flatMap(SnapshotStore.tableLayout).getOrElse(
      throw new UnsupportedOperationException(
        s"snapshot table '$table' predates layout-recording manifests " +
          s"— recommit with SnapshotStore.write to enable $what"))

  private def in(name: String, t: DataType,
      comment: String): ProcedureParameter =
    ProcedureParameter.in(name, t).comment(comment).build()

  private val TableParam = in("table", StringType,
    "snapshot table name relative to the warehouse")

  private def longResult(name: String): StructType =
    StructType(Seq(StructField(name, LongType, false)))

  private def one(v: Long): Seq[InternalRow] = Seq(InternalRow(v))

  private def flag(b: Boolean): Seq[InternalRow] = one(if (b) 1L else 0L)

  /** Listing order; also the order of the unknown-procedure message. */
  val All: Seq[SnapProcedureDef] = Seq(
    // the SQL entry to graft.operators.MergeInto.mergeCommit: apply the
    // rows of temp view / table `source` (base columns + boolean
    // `delete_flag`) as one atomic copy-on-write commit under the table
    // lock, with manifest-stats partition pruning; layout comes from
    // the manifest props, so SQL callers never re-state it. The
    // documented CALL-style MERGE entry (the full
    // SupportsRowLevelOperations surface — rewriting Spark's MERGE INTO
    // plan — buys positional-clause syntax but routes through the exact
    // same commit); reference analogue: the SQL INSERT loop the
    // reference drives through ClickHouse (README.md:527-532)
    SnapProcedureDef("merge_into",
      "Atomic copy-on-write MERGE into a graft snapshot table",
      Seq(TableParam,
        in("source", StringType, "view/table holding the changeset: " +
          "base columns + boolean delete flag"),
        in("key", StringType, "unique merge key column"),
        in("delete_flag", StringType, "boolean column marking delete rows")),
      longResult("snapshot_id"),
      (root, a) => {
        val spark = SparkSession.active
        val (partCol, sortCol) = layoutOf(root, a.str(0), "SQL MERGE")
        one(graft.operators.MergeInto.mergeCommit(spark, root,
          spark.table(a.str(1)), a.str(2), a.str(3), partCol, sortCol))
      }),
    // the DESCRIBE HISTORY analogue: one row per RETAINED commit,
    // commit order ascending; expired commits are absent, exactly like
    // time travel. total_rows is null unless every entry carries
    // write-time stats
    SnapProcedureDef("history",
      "Retained commit history of a graft snapshot table",
      Seq(TableParam),
      StructType(Seq(
        StructField("seq", LongType, false),
        StructField("snapshot_id", LongType, false),
        StructField("entries", IntegerType, false),
        StructField("total_rows", LongType, true),
        // the commit wall time (micros) — the instants TIMESTAMP AS OF
        // can address; null on pre-stamping manifests
        StructField("commit_ts", TimestampType, true))),
      (root, _) => SnapshotStore.history(root).map { h =>
        InternalRow(h.seq, h.id, h.entries, h.rows.map(Long.box).orNull,
          h.ts.map(t => Long.box(t * 1000L)).orNull)
      }),
    // retention: drop all but the newest `keep_last` commits and the
    // data dirs no retained manifest references, through the locked
    // SnapshotStore.expire. The orphan grace is pinned CONSERVATIVELY
    // to one hour, longer than any sane commit's write→publish — a SQL
    // caller cannot see whether another HOST has a commit in flight
    // (its data dirs look exactly like crash orphans until it
    // publishes), and the Scala API's grace-0 default is only safe when
    // this host's lock covers every writer; an operator who knows that
    // holds can call `SnapshotStore.expire(root, keepLast, 0)` directly
    SnapProcedureDef("expire",
      "Expire a graft snapshot table's history to the newest keep_last " +
        "commits",
      Seq(TableParam, in("keep_last", IntegerType,
        "how many newest commits to retain (>= 1)")),
      longResult("retained_commits"),
      (root, a) => {
        SnapshotStore.expire(root, a.int(1), orphanGraceMs = 3600000L)
        // Degraded no-hard-link / pre-chain tables have no commit-*
        // slots at all: reporting retained_commits = 0 for a table
        // whose manifests WERE retained misreads as "expire destroyed
        // everything". Count via history (which falls back to the
        // manifests listing for exactly those tables).
        one(SnapshotStore.retainedSeqs(root).size match {
          case 0 => SnapshotStore.history(root).size
          case n => n
        })
      }),
    // fold accumulated append parts back to one dir per partition as a
    // normal snapshot commit (layout from the manifest props) — readers
    // on the old manifest untouched
    SnapProcedureDef("compact",
      "Compact a graft snapshot table to one dir per partition",
      Seq(TableParam), longResult("snapshot_id"),
      (root, a) => {
        val (partCol, sortCol) = layoutOf(root, a.str(0), "SQL compaction")
        one(SnapshotStore.compact(SparkSession.active, root, partCol,
          sortCol))
      }),
    // targeted maintenance (the Iceberg procedure of the same name):
    // restates ONLY dirty entries (multi-part values, live deletion
    // vectors, outgoing spec vintages, file counts far off the binpack
    // ideal) and carries everything else by reference — O(dirty data),
    // not O(table). A fully-clean table returns the unchanged head id
    // without committing
    SnapProcedureDef("rewrite_data_files",
      "Binpack-rewrite a graft snapshot table's dirty entries only",
      Seq(TableParam, in("target_file_bytes", LongType,
        "binpack file-size target in bytes")),
      longResult("snapshot_id"),
      (root, a) => one(SnapshotStore.rewriteDataFiles(SparkSession.active,
        root, targetFileBytes = a.long(1)))),
    // the Delta RESTORE analogue: publish the state at retained chain
    // seq `to_seq` as a NEW head commit (history stays append-only; the
    // rolled-back commits remain time-travel-visible until expire; a
    // target past the retention horizon fails loudly)
    SnapProcedureDef("rollback",
      "Roll a graft snapshot table back to a retained commit (new head)",
      Seq(TableParam, in("to_seq", LongType,
        "retained chain sequence to restore")),
      longResult("snapshot_id"),
      (root, a) => one(SnapshotStore.rollback(root, a.long(1)))),
    // the Iceberg tag: the tagged commit's manifest, chain slot and
    // data dirs are pinned through every later expire, and
    // VERSION AS OF '<name>' resolves it; re-tagging a live name fails
    SnapProcedureDef("tag",
      "Pin and name a retained commit of a graft snapshot table",
      Seq(TableParam, in("name", StringType, "immutable tag name"),
        in("seq", LongType, "retained chain sequence to pin")),
      longResult("snapshot_id"),
      (root, a) => one(SnapshotStore.tag(root, a.str(1), a.long(2)))),
    // the commit a dropped tag named ages out via expire like any other
    SnapProcedureDef("untag", "Remove a tag from a graft snapshot table",
      Seq(TableParam, in("name", StringType, "tag name to remove")),
      longResult("existed"),
      (root, a) => flag(SnapshotStore.untag(root, a.str(1)))),
    // one row per tag, name order
    SnapProcedureDef("tags", "List a graft snapshot table's tags",
      Seq(TableParam),
      StructType(Seq(
        StructField("name", StringType, false),
        StructField("seq", LongType, false),
        StructField("snapshot_id", LongType, false))),
      (root, _) => SnapshotStore.tags(root).toSeq.sortBy(_._1).map {
        case (n, ref) => InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(n),
          ref.seq, ref.id)
      }),
    // Iceberg-style partition-spec evolution: a metadata-only commit —
    // existing entries keep (and record) their outgoing spec, new
    // commits land under the new one, row-level DML migrates touched
    // partitions
    SnapProcedureDef("evolve_spec",
      "Evolve a graft snapshot table's partition spec for future commits",
      Seq(TableParam, in("new_spec", StringType,
        "new partition spec, e.g. 'month,bucket(4,id)'")),
      longResult("snapshot_id"),
      (root, a) => one(SnapshotStore.evolvePartitionSpec(root, a.str(1)))),
    // a WAP branch cut at the head: staged commits land on the branch
    // (Scala appendToBranch / resetBranch; read with
    // option("branch", name)), invisible to main readers until
    // fast_forward publishes them. Returns the fork's manifest id
    SnapProcedureDef("branch",
      "Cut a write-audit-publish branch at a graft snapshot table's head",
      Seq(TableParam, in("name", StringType, "branch name")),
      longResult("snapshot_id"),
      (root, a) => one(SnapshotStore.branch(root, a.str(1)).id)),
    // one ordinary conflict-checked commit; refuses loudly when main
    // advanced since the fork
    SnapProcedureDef("fast_forward",
      "Publish a WAP branch's staged state onto the main chain",
      Seq(TableParam, in("name", StringType, "branch name to publish")),
      longResult("snapshot_id"),
      (root, a) => one(SnapshotStore.fastForward(root, a.str(1)))),
    // the branch's unpublished manifests/dirs age out via expire
    SnapProcedureDef("drop_branch",
      "Drop a WAP branch from a graft snapshot table",
      Seq(TableParam, in("name", StringType, "branch name to drop")),
      longResult("existed"),
      (root, a) => flag(SnapshotStore.dropBranch(root, a.str(1)))))
}
