package graft.operators

import graft.etl.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch MERGE (the lakehouse upsert write path): apply a changeset of
  * upserts and deletes to a base table in ONE full-outer join —
  * `WHEN MATCHED AND _delete THEN DELETE / WHEN MATCHED THEN UPDATE /
  * WHEN NOT MATCHED THEN INSERT`, the copy-on-write MERGE INTO every
  * table format (Delta/Iceberg/Hudi) implements on top of exactly this
  * plan shape.
  *
  * Scale shape: one key shuffle of |base| + |changes| into a sort-merge
  * full-outer join, then a map-side resolve — no driver state, no
  * per-row lookups. At 100 TB the refinement is to partition-prune the
  * rewrite to partitions the changeset touches first (the `dpp_join`
  * move applied to the write side); the resolve itself is unchanged.
  *
  * Semantics: change rows win wholesale (whole-row UPDATE — a change
  * row's NULL overwrites, it does not "keep old"); a delete for an
  * absent key is a no-op; a change row with a NULL key can never
  * equi-match, so it INSERTs (delete-flagged null-key rows are
  * no-ops), exactly as a never-matching key does; keys must be unique
  * on both sides (standard MERGE precondition — violations would
  * cartesian the match; `assertUniqueKeys` checks it at one extra
  * aggregate's cost for debug runs).
  */
object MergeInto {

  /** Candidate ENTRIES of the key-range prune — the entry-granular
    * form of [[candidatePartitions]] (vintage-uniform: the prune keys
    * on entry stats, never on tokens). `keyType` is
    * [[prunableKeyType]]'s answer and `bounds` the source's non-null
    * key range from [[sourcePass]]. */
  private def candidateEntries(m: SnapshotStore.Manifest, key: String,
      keyType: Option[org.apache.spark.sql.types.DataType],
      bounds: Option[(Any, Any)]): Seq[SnapshotStore.Entry] =
    keyType match {
      case Some(t) =>
        val vs = pruneToKeyRange(m, key, t, bounds)
        m.entries.filter(e => vs(e.value))
      case None => m.entries
    }

  /** ONE aggregate over the materialized source: the min/max of the
    * `rangeKey` column (nulls ignored; `None` when the source holds no
    * non-null key) and the distinct landing tokens of the rows the
    * `landing` (condition, token) pair selects. Either part may be
    * absent; with neither, no job runs. The one-row result gains
    * nothing from adaptive re-planning, so it runs with AQE off: one
    * job, where AQE would submit the partial stage as a job of its
    * own. */
  private def sourcePass(src: DataFrame,
      rangeKey: Option[org.apache.spark.sql.Column],
      landing: Option[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column)]): (Option[(Any, Any)], Set[String]) = {
    // collect_set skips NULL tokens, so they are counted apart: a NULL
    // landing value must still reach the commit, which refuses it
    val aggs = rangeKey.toSeq.flatMap(k => Seq(min(k), max(k))) ++
      landing.toSeq.flatMap { case (cond, tok) =>
        val c = coalesce(cond, lit(false))
        Seq(collect_set(when(c, tok)), count_if(c && tok.isNull)) }
    if (aggs.isEmpty) (None, Set.empty)
    else {
      val r = org.apache.spark.sql.GraftPlanBridge.withSessionConf(
        src.agg(aggs.head, aggs.tail: _*),
        "spark.sql.adaptive.enabled" -> "false").head()
      val bounds =
        if (rangeKey.isEmpty || r.isNullAt(0)) None
        else Some((r.get(0), r.get(1)))
      val toks =
        if (landing.isEmpty) Set.empty[String]
        else r.getSeq[String](aggs.size - 2).toSet ++
          (if (r.getLong(aggs.size - 1) > 0L) Set(null: String) else Nil)
      (bounds, toks)
    }
  }

  /** Entries holding ≥1 base row whose key matches a source key, with
    * the distinct non-null `landTok` values of those matched rows —
    * ONE join of the stats-pruned candidates with the source. Matches
    * are attributed by FILE identity ([[SnapshotStore.entryDirCol]]),
    * so discovery is uniform across partition-spec vintages
    * ([[SnapshotStore.evolvePartitionSpec]]), and deletion vectors are
    * anti-applied (an already-deleted row can never re-match). The
    * join aliases base `"b"` and source `"c"` like the resolve join,
    * so `landTok` may read both sides (a partition-moving UPDATE's new
    * token); the source side is AQE-broadcast when small. */
  private def touchedByKey(spark: SparkSession, root: String,
      m: SnapshotStore.Manifest,
      schema: org.apache.spark.sql.types.StructType,
      cand: Seq[SnapshotStore.Entry], src: DataFrame, keyTarget: String,
      keySource: String, landTok: Option[org.apache.spark.sql.Column])
      : (Seq[SnapshotStore.Entry], Set[String]) =
    if (cand.isEmpty) (Seq.empty, Set.empty)
    else {
      val hits = SnapshotStore
        .readEntriesWithPositions(spark, root, schema, cand)
        .withColumn("__dir", SnapshotStore.entryDirCol).alias("b")
        .join(src.alias("c"), col(s"b.$keyTarget") === col(s"c.$keySource"))
        .select(col("b.__dir"),
          landTok.getOrElse(lit(null).cast("string")).as("__tok"))
        .distinct().collect()
      val byDir = m.entries.map(e => e.dir -> e).toMap
      (hits.map(_.getString(0)).distinct.sorted.map(byDir).toSeq,
        hits.flatMap(r => Option(r.getString(1))).toSet)
    }

  /** Change-row presence marker: non-null on every `changes` row, so
    * after the full-outer join "change side present" is testable even
    * for NULL-key change rows (testing key nullity instead would emit
    * an all-NULL row for them — base-side columns of an unmatched
    * change row). */
  private val presentCol = "__graft_c_present"

  /** Apply `changes` to `base`. Both carry the same data columns;
    * `changes` additionally has boolean `deleteFlag`. Output schema =
    * `base` schema. */
  def merge(base: DataFrame, changes: DataFrame, key: String,
      deleteFlag: String, assertUniqueKeys: Boolean = false): DataFrame = {
    if (assertUniqueKeys) {
      def assertUnique(df: DataFrame, side: String): Unit = {
        val dup = df.filter(col(key).isNotNull).groupBy(col(key))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1)
          .collect()
        require(dup.isEmpty,
          s"MERGE precondition violated: $side has duplicate key " +
            s"${dup.head.get(0)} (matches would cartesian)")
      }
      assertUnique(base, "base")
      assertUnique(changes, "changes")
    }
    val dataCols = base.columns
    val joined = base.alias("b").join(
      changes.withColumn(presentCol, lit(true)).alias("c"),
      col(s"b.$key") === col(s"c.$key"), "full_outer")
    joined
      // matched-or-orphan delete rows drop out; everything else survives
      .filter(!coalesce(col(s"c.$deleteFlag"), lit(false)))
      // change row present → its values win wholesale; else keep base
      .select(dataCols.toIndexedSeq.map { n =>
        when(col(s"c.$presentCol").isNotNull, col(s"c.$n"))
          .otherwise(col(s"b.$n")).as(n)
      }: _*)
  }

  /** MERGE INTO a [[SnapshotStore]] table, committed atomically — the
    * copy-on-write write path on top of [[merge]]'s resolve algebra.
    * Only TOUCHED partitions are rewritten (the `dpp_join` move
    * applied to the write side): touched = base partitions holding a
    * matched change key ∪ target partitions of surviving change rows.
    * Everything else carries forward by manifest reference, so at
    * 100 TB a changeset confined to one month rewrites one month and
    * commits one ~KB pointer swap. Readers racing the MERGE see the
    * whole pre- or whole post-merge snapshot, never a mix.
    *
    * The discovery pass scans base (key + row identity) only, and the
    * changeset sides of both the discovery join and the resolve join
    * are AQE-broadcast when small (the normal MERGE shape: changeset ≪
    * table). The whole read → resolve → commit sequence holds the
    * table lock, so a concurrent backfill cannot be silently reverted
    * (lost update);
    * an update may MOVE a row across partitions — both the source and
    * destination partitions land in the touched set, so the row
    * appears exactly once after the commit — and a delete that drains
    * a partition entirely DROPS its manifest entry
    * ([[SnapshotStore.restatePartitions]]'s reason to exist).
    *
    * `changes` carries every base column plus boolean `deleteFlag`;
    * partition values must be non-null (the snapshot commit guard).
    * Returns the committed snapshot id (the current id unchanged when
    * the changeset touches nothing). */
  def mergeCommit(spark: SparkSession, root: String, changes: DataFrame,
      key: String, deleteFlag: String, partCol: String,
      sortCol: String): Long =
    mergeCommitImpl(spark, root, changes, key, partCol, sortCol,
      landable = !coalesce(col(deleteFlag), lit(false)),
      resolve = (base, chg) => merge(base, chg, key, deleteFlag),
      // whole-row form: matched non-delete rows always update
      cdcOf = (base, chg) => {
        val del = coalesce(col(s"c.$deleteFlag"), lit(false))
        cdcChangeset(base, chg, key, del, !del, !del)
      })

  /** Shared locked read → discover → resolve → commit sequence under
    * both MERGE entry forms. `landable` marks change rows that can
    * LAND in their own partition (insert or update — a superset is
    * safe: restating an untouched partition rewrites it unchanged);
    * `resolve` computes the post-merge content of the touched
    * partitions. The changeset is MATERIALIZED once (pinned) before
    * any of the passes that read it (one aggregate for the key-range
    * stats and the landing partitions, the matched-key discovery join,
    * the resolve join, the CDC join): a
    * non-deterministic source (rand()/uuid()/now()-derived keys or
    * partitions) re-evaluated per pass would let discovery and resolve
    * disagree — rows landing outside dropValues, or matched base rows
    * escaping the rewrite. Delta/Iceberg materialize their MERGE
    * source for exactly this reason.
    *
    * Materialization durability: the default pin
    * ([[graft.util.Checkpoints.pin]], released when the commit returns
    * or throws) stores blocks on executor local storage with NO
    * lineage — on a multi-executor cluster, losing one executor
    * mid-MERGE fails the whole statement (nothing to recompute from).
    * Acceptable on this single-host engine; for cluster deployments set
    * `graft.merge.materialize=reliable` to use
    * `persist(MEMORY_AND_DISK_2)` with a count() barrier instead:
    * blocks are replicated 2×, so one lost executor degrades to
    * reading the replica, and only losing BOTH replicas falls back to
    * lineage recomputation (where a non-deterministic source could in
    * principle diverge — the Delta trade-off). */
  /** Materialize a MERGE source/changeset before multi-pass reads,
    * with the handle that releases it (callers release in a `finally`)
    * — `graft.merge.materialize=reliable` picks replicated persist over
    * the default lineage-free pin ([[graft.util.Checkpoints.pin]]; see
    * [[mergeCommitImpl]] scaladoc for the trade-off). */
  private def materialize(spark: SparkSession, df: DataFrame)
      : (DataFrame, () => Unit) =
    if (spark.conf.getOption("graft.merge.materialize")
        .contains("reliable")) {
      val c = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_2)
      c.count() // barrier: materialize before any pass reads it
      (c, () => c.unpersist())
    } else graft.util.Checkpoints.pin(df)

  private def mergeCommitImpl(spark: SparkSession, root: String,
      changes0: DataFrame, key: String, partCol: String, sortCol: String,
      landable: org.apache.spark.sql.Column,
      resolve: (DataFrame, DataFrame) => DataFrame,
      cdcOf: (DataFrame, DataFrame) => DataFrame): Long =
    SnapshotStore.withTableLock(root) {
      val m = SnapshotStore.current(root).getOrElse(
        throw new IllegalStateException(
          s"no snapshot at $root to merge into"))
      // the restatement renders partition tokens for the rows it
      // writes — on a TZ-timestamp partition column that is only sound
      // when this session renders like the writer's (else a carried
      // entry gets duplicated under a second spelling). Base-side
      // DISCOVERY is file-attributed and never renders tokens.
      SnapshotStore.checkTokenRenderZone(spark, m, partCol, "MERGE")
      SnapshotStore.requireNoEqDeletes(m, "MERGE INTO")
      // partCol is a PARTITION SPEC string ([[graft.etl.PartitionSpec]])
      // — landing tokens render through the spec's expression, so
      // multi-column and bucket layouts land exactly as the commit writes
      val spec = SnapshotStore.parseSpec(partCol)
      val schema = m.schema.getOrElse(SnapshotStore.read(spark, root).schema)
      val (changes, release) = materialize(spark, changes0)
      try {
        // manifest-stats pruning bounds the discovery scan to the
        // entries whose key range intersects the changeset's — decided
        // on the ~KB manifest before any file listing; the scan then
        // attributes matches to ENTRIES by file identity, uniform
        // across spec vintages (old-vintage entries MIGRATE to the
        // current layout with the restatement). The key range and the
        // landing tokens come from one aggregate over the changeset.
        val keyType = prunableKeyType(m, key,
          changes.schema.fields.find(_.name == key).map(_.dataType))
        val (bounds, touchedNew) = sourcePass(changes,
          keyType.map(_ => col(key)), Some((landable, spec.tokenExpr(col))))
        val (touchedBase, _) = touchedByKey(spark, root, m, schema,
          candidateEntries(m, key, keyType, bounds), changes, key, key,
          None)
        if (touchedBase.isEmpty && touchedNew.isEmpty) m.id
        else {
          val (touchedContent, dropValues, dropOld) = RowLevelOps
            .restatementScope(spark, root, touchedBase, spec, touchedNew)
          val resolved = resolve(touchedContent, changes)
          // row-exact CDC sidecar (Delta CDF semantics), derived from
          // the SAME materialized changeset the resolve reads — one
          // extra key join of the touched partitions against the
          // (usually broadcast-small) changes, proportional to the
          // touched data like the rewrite itself
          val cdc = cdcOf(touchedContent, changes)
          SnapshotStore.restatePartitions(Some(resolved), root, dropValues,
            partCol, sortCol, cdc = Some(cdc), dropOld = dropOld)
        }
      } finally release()
    }

  /** Marker columns the CLAUSE-form merge rides in on: per-change-row
    * booleans, evaluated over the SOURCE row before the join (the
    * statement rewriter restricts clause conditions to source
    * references, which is what makes this pre-evaluation sound). */
  private[graft] val DelCol = "__graft_m_del"
  private[graft] val UpdCol = "__graft_m_upd"
  private[graft] val InsCol = "__graft_m_ins"

  private val basePresentCol = "__graft_b_present"

  /** Clause-form resolve — the general algebra under SQL
    * `MERGE INTO … WHEN MATCHED [AND c] THEN DELETE/UPDATE SET * WHEN
    * NOT MATCHED [AND c] THEN INSERT *`: `changes` carries the table
    * columns plus the three marker booleans. Per joined row:
    * matched ∧ del → dropped; matched ∧ ¬del ∧ upd → change values;
    * matched, no clause applies → base row unchanged; unmatched change
    * row → inserted iff ins; unmatched base row → kept. [[merge]] is
    * the special case del=flag, upd=true, ins=¬flag (kept separate —
    * its exact plan shape is oracle-pinned). Same one-shuffle
    * full-outer shape, same unique-keys precondition. */
  private[graft] def mergeClauses(base: DataFrame, changes: DataFrame,
      key: String): DataFrame = {
    val dataCols = base.columns
    val joined = base.withColumn(basePresentCol, lit(true)).alias("b")
      .join(changes.withColumn(presentCol, lit(true)).alias("c"),
        col(s"b.$key") === col(s"c.$key"), "full_outer")
    val matched = col(s"b.$basePresentCol").isNotNull &&
      col(s"c.$presentCol").isNotNull
    val changeOnly = col(s"b.$basePresentCol").isNull &&
      col(s"c.$presentCol").isNotNull
    val del = coalesce(col(s"c.$DelCol"), lit(false))
    val upd = coalesce(col(s"c.$UpdCol"), lit(false))
    val ins = coalesce(col(s"c.$InsCol"), lit(false))
    joined
      .filter(!(matched && del) && !(changeOnly && !ins))
      .select(dataCols.toIndexedSeq.map { n =>
        when((matched && !del && upd) || changeOnly, col(s"c.$n"))
          .otherwise(col(s"b.$n")).as(n)
      }: _*)
  }

  /** Clause-form [[mergeCommit]]: same locked read → resolve → commit
    * sequence, same manifest-stats discovery pruning, with
    * [[mergeClauses]] as the resolve. `changes` = table columns + the
    * three marker booleans. Touched-partition discovery is a safe
    * superset: all base partitions holding a matched change key (a
    * matched row whose clauses all pass is restated unchanged —
    * harmless) ∪ target partitions of non-delete change rows (an
    * unmatched row whose insert condition fails restates its partition
    * unchanged — harmless). Returns the committed snapshot id. */
  def mergeClausesCommit(spark: SparkSession, root: String,
      changes: DataFrame, key: String, partCol: String,
      sortCol: String): Long =
    mergeCommitImpl(spark, root, changes, key, partCol, sortCol,
      // a change row can LAND in its own partition iff it could insert
      // (unmatched ∧ ins — and SQL's clauses allow ins on delete-flagged
      // rows) or update (matched ∧ ¬del ∧ upd); matched-ness is unknown
      // before the join, so take the per-row superset ins ∨ (upd ∧ ¬del)
      landable = coalesce(col(InsCol), lit(false)) ||
        (coalesce(col(UpdCol), lit(false)) &&
          !coalesce(col(DelCol), lit(false))),
      resolve = (base, chg) => mergeClauses(base, chg, key),
      cdcOf = (base, chg) => cdcChangeset(base, chg, key,
        coalesce(col(s"c.$DelCol"), lit(false)),
        coalesce(col(s"c.$UpdCol"), lit(false)),
        coalesce(col(s"c.$InsCol"), lit(false))))

  /** The ROW-EXACT changeset of a merge, as CDC rows (Delta CDF's
    * vocabulary): per joined (base, change) row —
    * matched ∧ del → one `delete` row (the base image);
    * matched ∧ ¬del ∧ upd → `update_preimage` (base) +
    * `update_postimage` (change values);
    * unmatched change ∧ ins → one `insert` row;
    * anything else (unmatched base rows, matched rows no clause
    * claims) → nothing. Persisted as the commit's CDC sidecar so
    * [[graft.etl.SnapshotStore.changeFeed]] and the streaming CDF emit
    * exactly the changed rows for DML commits. Same one-shuffle
    * full-outer shape as the resolve; the 0/1/2 output rows per joined
    * row ride one `when`-chained array + explode (a null array — no
    * clause fired — explodes to zero rows). The marker columns
    * `del`/`upd`/`ins` are evaluated over the JOINED row's change side
    * (`c.` alias). */
  private[graft] def cdcChangeset(base: DataFrame, changes: DataFrame,
      key: String, del: org.apache.spark.sql.Column,
      upd: org.apache.spark.sql.Column,
      ins: org.apache.spark.sql.Column): DataFrame = {
    val dataCols = base.columns.toIndexedSeq
    val joined = base.withColumn(basePresentCol, lit(true)).alias("b")
      .join(changes.withColumn(presentCol, lit(true)).alias("c"),
        col(s"b.$key") === col(s"c.$key"), "full_outer")
    def rowOf(side: String) = struct(
      dataCols.map(n => col(s"$side.$n").as(n)): _*)
    cdcEvents(joined, matchedCol, changeOnlyCol, del, upd, ins,
      rowDel = rowOf("b"), rowPre = rowOf("b"), rowPost = rowOf("c"),
      rowIns = rowOf("c"), dataCols)
  }

  /** THE one implementation of the CDC sidecar row contract (Delta
    * CDF's vocabulary) — both the whole-row/marker merges and the
    * general clause-program merge tag through here, with only the row
    * STRUCT builders differing: per joined row,
    * matched ∧ del → `delete`(rowDel);
    * matched ∧ ¬del ∧ upd → `update_preimage`(rowPre) +
    * `update_postimage`(rowPost);
    * unmatched change ∧ ins → `insert`(rowIns); else nothing (the
    * null when-array explodes to zero rows). */
  private def cdcEvents(joined: DataFrame,
      matched: org.apache.spark.sql.Column,
      changeOnly: org.apache.spark.sql.Column,
      del: org.apache.spark.sql.Column,
      upd: org.apache.spark.sql.Column,
      ins: org.apache.spark.sql.Column,
      rowDel: org.apache.spark.sql.Column,
      rowPre: org.apache.spark.sql.Column,
      rowPost: org.apache.spark.sql.Column,
      rowIns: org.apache.spark.sql.Column,
      dataCols: Seq[String],
      // by-source tail (general MERGE only): unmatched BASE rows a
      // `WHEN NOT MATCHED BY SOURCE` clause claims — delete emits the
      // base image, update emits base pre + by-source-SET post
      bySource: Option[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column)] = None): DataFrame = {
    def tagged(t: String, r: org.apache.spark.sql.Column) =
      struct(lit(t).as("_ct"), r.as("_r"))
    val head =
      when(matched && del, array(tagged("delete", rowDel)))
        .when(matched && !del && upd, array(
          tagged("update_preimage", rowPre),
          tagged("update_postimage", rowPost)))
        .when(changeOnly && ins, array(tagged("insert", rowIns)))
    val events = bySource match {
      case None => head
      case Some((baseOnly, bsDel, bsUpd, rowPostBs)) =>
        head
          .when(baseOnly && bsDel, array(tagged("delete", rowDel)))
          .when(baseOnly && !bsDel && bsUpd, array(
            tagged("update_preimage", rowPre),
            tagged("update_postimage", rowPostBs)))
    }
    // no otherwise: the null array explodes to zero rows
    joined.select(explode(events).as("_e"))
      .select(dataCols.toIndexedSeq.map(n => col(s"_e._r.$n").as(n)) :+
        col("_e._ct").as("_change_type"): _*)
  }

  // ---- general clause-form MERGE (expression conditions, partial SET) ----

  /** The GENERAL SQL MERGE program: clause conditions and assignment
    * values as COLUMN expressions over the RESOLVE JOIN's aliased row
    * — base side `"b"`, source side `"c"` (e.g.
    * `col("b.status") === lit("open")`). Evaluating everything where
    * BOTH rows are in scope is what lets matched-clause conditions
    * reference TARGET columns and a partial `SET` keep unassigned
    * target values — the two shapes the pre-evaluated per-source-row
    * marker model ([[mergeClausesCommit]], still the CALL-procedure
    * path) cannot express.
    *
    *   - `del`/`upd`/`ins`: the first-match-wins-folded clause
    *     conditions (null-safe; `ins` references the source side only,
    *     SQL's NOT MATCHED contract);
    *   - `updValues`: per assigned table column, the SET value over
    *     the joined row — columns absent KEEP the target value;
    *   - `insValues`: per table column, the INSERT value (source side
    *     only); empty = no insert clause;
    *   - `insSourceCond`/`insSourceValues`: the insert condition and
    *     per-table-column INSERT values over the BARE source frame
    *     (unqualified names) — the landing-partition discovery pass,
    *     which runs before any join; empty map = no insert clause
    *     (the statement rewriter guarantees a present INSERT clause
    *     covers every table column, so every partition-spec source
    *     column is present);
    *   - `partColMovedByUpdate`: whether SET assigns any partition
    *     SOURCE column anything but itself — only then does discovery
    *     need a join pass to find update-landing partitions;
    *   - `bySource`: the `WHEN NOT MATCHED BY SOURCE` program, when
    *     the statement carries one — clauses over unmatched TARGET
    *     rows (the full-sync idiom: delete/retire rows the source no
    *     longer carries). Conditions and SET values reference the
    *     target side only (an unmatched row has no source values);
    *     `bareCond` is bsDel∨bsUpd over the BARE (unaliased) table
    *     frame, the discovery pass's pruning predicate. */
  final case class BySourceProgram(
      bsDel: org.apache.spark.sql.Column,
      bsUpd: org.apache.spark.sql.Column,
      updValues: Map[String, org.apache.spark.sql.Column],
      bareCond: org.apache.spark.sql.Column,
      bareUpdValues: Map[String, org.apache.spark.sql.Column],
      partColMovedByUpdate: Boolean)

  /** `hasMatchedClauses` = the statement carries at least one WHEN
    * MATCHED clause: when false (a by-source-only sync), matched base
    * rows can never change, so the matched-key discovery pass is
    * skipped outright — a full-coverage no-op sync then touches ZERO
    * partitions instead of restating every key-matched one. */
  final case class MergeClauseProgram(
      del: org.apache.spark.sql.Column,
      upd: org.apache.spark.sql.Column,
      ins: org.apache.spark.sql.Column,
      updValues: Map[String, org.apache.spark.sql.Column],
      insValues: Map[String, org.apache.spark.sql.Column],
      insSourceCond: org.apache.spark.sql.Column,
      insSourceValues: Map[String, org.apache.spark.sql.Column],
      partColMovedByUpdate: Boolean,
      bySource: Option[BySourceProgram] = None,
      hasMatchedClauses: Boolean = true)

  /** The resolve join both the discovery and resolve passes share:
    * base aliased `"b"`, source aliased `"c"`, full-outer on the ON
    * keys, presence markers appended to make matched-ness testable
    * for NULL-key rows. */
  private def generalJoin(base: DataFrame, src: DataFrame,
      keyTarget: String, keySource: String): DataFrame =
    base.withColumn(basePresentCol, lit(true)).alias("b")
      .join(src.withColumn(presentCol, lit(true)).alias("c"),
        col(s"b.$keyTarget") === col(s"c.$keySource"), "full_outer")

  private def matchedCol: org.apache.spark.sql.Column =
    col(s"b.$basePresentCol").isNotNull && col(s"c.$presentCol").isNotNull
  private def changeOnlyCol: org.apache.spark.sql.Column =
    col(s"b.$basePresentCol").isNull && col(s"c.$presentCol").isNotNull
  private def baseOnlyCol: org.apache.spark.sql.Column =
    col(s"b.$basePresentCol").isNotNull && col(s"c.$presentCol").isNull

  /** General MERGE INTO a snapshot table — the SQL statement's engine
    * ([[graft.plans.SnapshotMergeRewrite]]): same locked read →
    * discover → resolve → commit sequence as [[mergeCommit]], with the
    * clause program evaluated ON the resolve join. `source` is the
    * statement's source relation AS IS (its own columns — no table
    * alignment happens before the join). Discovery is two passes over
    * the pinned source:
    *   1. ONE aggregate: the SOURCE key's min/max (the manifest-stats
    *      candidate prune) and the insert landing — the insert
    *      clause's partition value over source rows passing its
    *      (source-only) condition;
    *   2. ONE join of the candidate entries with the source: the
    *      touched entries (file-attributed, the marker path's shape)
    *      and, ONLY when SET moves the partition column, the new
    *      partition value of the rows the UPDATE claims (matched rows
    *      live in the candidates by construction, so the pass is
    *      bounded by the touched data, never the table).
    * Values are cast to the table column's type (SQL store-assignment
    * semantics). The resolve write and the CDC sidecar read one
    * materialized full-outer join of the touched content with the
    * source, released when the commit returns or throws. The clause
    * expressions are evaluated on more than one pass — the discovery
    * join and that resolve/CDC join — so the SQL rewriter refuses
    * non-deterministic/current-time expressions and subqueries — the
    * same contract as row-level UPDATE. */
  def mergeGeneralCommit(spark: SparkSession, root: String,
      source: DataFrame, keyTarget: String, keySource: String,
      prog: MergeClauseProgram, partCol: String,
      sortCol: String): Long =
    SnapshotStore.withTableLock(root) {
      val m = SnapshotStore.current(root).getOrElse(
        throw new IllegalStateException(
          s"no snapshot at $root to merge into"))
      SnapshotStore.checkTokenRenderZone(spark, m, partCol, "MERGE")
      SnapshotStore.requireNoEqDeletes(m, "MERGE INTO")
      val spec = SnapshotStore.parseSpec(partCol)
      val tableSchema = m.schema.getOrElse(
        throw new IllegalStateException(s"table at $root predates " +
          "schema-carrying manifests — recommit before SQL MERGE"))
      val tableCols = tableSchema.fieldNames.toSeq
      require(!source.columns.exists(c =>
          c.equalsIgnoreCase(presentCol) ||
            c.equalsIgnoreCase(basePresentCol)),
        s"MERGE source must not carry the reserved marker columns " +
          s"$presentCol/$basePresentCol")
      val (src, release) = materialize(spark, source)
      try {
        val del = coalesce(prog.del, lit(false))
        val upd = coalesce(prog.upd, lit(false))
        val ins = coalesce(prog.ins, lit(false))
        def uv(n: String) = prog.updValues.get(n)
          .map(_.cast(tableSchema(n).dataType))
          .getOrElse(col(s"b.$n"))
        def iv(n: String) = prog.insValues.get(n)
          .map(_.cast(tableSchema(n).dataType))
          .getOrElse(lit(null).cast(tableSchema(n).dataType))
        // 1. one aggregate over the source: the key range for the
        // manifest-stats candidate prune, and the insert landing — the
        // insert clause's partition value over source rows passing its
        // (source-only) condition, each component cast through its
        // column's TYPE first, so the token renders exactly as the
        // commit will render it. No WHEN MATCHED clause → matched rows
        // can never change → nothing key-matched needs restating (a
        // full-coverage by-source no-op sync touches zero partitions)
        val keyType =
          if (!prog.hasMatchedClauses) None
          else prunableKeyType(m, keyTarget,
            Some(src.select(col(keySource)).schema.head.dataType))
        val insLandTok =
          if (prog.insSourceValues.isEmpty) None
          else {
            val missing = spec.sourceCols
              .filterNot(prog.insSourceValues.contains)
            require(missing.isEmpty,
              s"MERGE insert clause provides no value for partition " +
                s"source column(s) ${missing.mkString(", ")} — " +
                "unreachable, the rewrite checks coverage")
            Some((prog.insSourceCond, spec.tokenExpr(n =>
              prog.insSourceValues(n).cast(tableSchema(n).dataType))))
          }
        val (bounds, insLanding) = sourcePass(src,
          keyType.map(_ => col(keySource)), insLandTok)
        // 2. touchedBase + update landing: ONE join of the candidate
        // entries (attributed to ENTRIES by file identity —
        // vintage-uniform, DV-applied) with the source; for a
        // partition-moving SET it also renders the new partition value
        // of the rows the UPDATE claims (matched rows live in the
        // touched entries by construction, so the pass is bounded by
        // the candidates, never the table)
        val (touchedBase, updLanding) =
          if (!prog.hasMatchedClauses) (Seq.empty, Set.empty[String])
          else touchedByKey(spark, root, m, tableSchema,
            candidateEntries(m, keyTarget, keyType, bounds), src,
            keyTarget, keySource,
            if (!prog.partColMovedByUpdate) None
            else Some(when(!del && upd, spec.tokenExpr(n => uv(n)))))
        // 4. by-source discovery: a NOT MATCHED BY SOURCE clause can
        // claim an unmatched base row in ANY partition. Stats-prune
        // the candidates on the bare clause condition (bareCond is the
        // RAW disjunction so the planner's filter translation can see
        // it), then a PROBE pass keeps only the entries holding ≥1 row
        // the clause program actually claims — unmatched by source AND
        // condition-true. A no-op full-sync (every target row still in
        // the source) then restates NOTHING instead of every candidate
        // partition.
        val bySourceHit: Seq[SnapshotStore.Entry] = prog.bySource match {
          case None => Seq.empty
          case Some(bs) =>
            val candE = graft.etl.StatsPruning.candidateValues(m,
                SnapshotStore.read(spark, root), bs.bareCond) match {
              case Some(vs) => m.entries.filter(e => vs(e.value))
              case None => m.entries
            }
            if (candE.isEmpty) Seq.empty
            else {
              val srcKeys = src.filter(col(keySource).isNotNull)
                .select(col(keySource).as("__graft_ck")).distinct()
              val dirs = SnapshotStore.readEntriesWithPositions(spark,
                  root, tableSchema, candE)
                .join(srcKeys, col(keyTarget) === col("__graft_ck"),
                  "left_anti")
                .filter(coalesce(bs.bareCond, lit(false)))
                .select(SnapshotStore.entryDirCol.as("__dir")).distinct()
                .collect().map(_.getString(0)).toSet
              val byDir = m.entries.map(e => e.dir -> e).toMap
              dirs.toSeq.sorted.map(byDir)
            }
        }
        // 5. by-source update landing (only for partition-moving
        // by-source SETs): bare-frame evaluation over the HIT entries —
        // matched-ness is approximated by the bare condition, a
        // SUPERSET (an extra partition restates unchanged, harmless)
        val bsHitDirs = bySourceHit.map(_.dir).toSet
        val bsUpdLanding: Set[String] = prog.bySource match {
          case Some(bs)
              if bs.partColMovedByUpdate && bySourceHit.nonEmpty =>
            SnapshotStore.readEntriesWhere(spark, root,
                e => bsHitDirs(e.dir))
              .filter(coalesce(bs.bareCond, lit(false)))
              .select(spec.tokenExpr(n =>
                bs.bareUpdValues.getOrElse(n, col(n))
                  .cast(tableSchema(n).dataType)).as("__tok"))
              .distinct().collect().map(_.getString(0)).toSet
          case _ => Set.empty
        }
        val touchedEntries =
          (touchedBase ++ bySourceHit).distinctBy(_.dir)
        val extraLanding = insLanding ++ updLanding ++ bsUpdLanding
        if (touchedEntries.isEmpty && extraLanding.isEmpty) m.id
        else {
          val (touchedContent, dropValues, dropOld) = RowLevelOps
            .restatementScope(spark, root, touchedEntries, spec,
              extraLanding)
          val bsDel = prog.bySource
            .map(b => coalesce(b.bsDel, lit(false))).getOrElse(lit(false))
          val bsUpd = prog.bySource
            .map(b => coalesce(b.bsUpd, lit(false))).getOrElse(lit(false))
          def bv(n: String) = prog.bySource.flatMap(_.updValues.get(n))
            .map(_.cast(tableSchema(n).dataType)).getOrElse(col(s"b.$n"))
          def rowB = struct(
            tableCols.toIndexedSeq.map(n => col(s"b.$n").as(n)): _*)
          def rowU = struct(tableCols.toIndexedSeq.map(n => uv(n).as(n)): _*)
          def rowI = struct(tableCols.toIndexedSeq.map(n => iv(n).as(n)): _*)
          def rowBs = struct(tableCols.toIndexedSeq.map(n => bv(n).as(n)): _*)
          // the resolve write and the CDC sidecar read ONE materialized
          // full-outer join instead of evaluating it once each
          val (joined, releaseJoin) = materialize(spark,
            generalJoin(touchedContent, src, keyTarget, keySource))
          try {
            val resolved = joined
              .filter(!(matchedCol && del) && !(changeOnlyCol && !ins) &&
                !(baseOnlyCol && bsDel))
              .select(tableCols.map { n =>
                when(matchedCol && !del && upd, uv(n))
                  .when(changeOnlyCol, iv(n))
                  .when(baseOnlyCol && !bsDel && bsUpd, bv(n))
                  .otherwise(col(s"b.$n")).as(n)
              }: _*)
            val cdc = cdcEvents(joined, matchedCol, changeOnlyCol,
              del, upd, ins, rowDel = rowB, rowPre = rowB, rowPost = rowU,
              rowIns = rowI, tableCols,
              bySource = prog.bySource.map(_ =>
                (baseOnlyCol, bsDel, bsUpd, rowBs)))
            SnapshotStore.restatePartitions(Some(resolved), root,
              dropValues, partCol, sortCol, cdc = Some(cdc),
              dropOld = dropOld)
          } finally releaseJoin()
        }
      } finally release()
    }

  /** Partitions whose manifest key-range could hold a change key —
    * the Iceberg-style min/max prune, decided entirely on the manifest:
    *   - `None` = pruning unavailable (unordered key type, or no entry
    *     carries stats for the key) → caller scans the full base;
    *   - `Some(values)` = only these partitions can match; entries
    *     WITHOUT key stats stay in conservatively (a pre-stats entry
    *     must never be skipped);
    *   - `Some(empty)` = the changeset has no non-null keys (or the
    *     table no entries) — nothing in base can match.
    * Cost: one min/max aggregate over the changeset (the small side of
    * every MERGE) + an O(entries) driver loop. */
  private[graft] def candidatePartitions(m: SnapshotStore.Manifest,
      changes: DataFrame, key: String): Option[Set[String]] =
    prunableKeyType(m, key,
      changes.schema.fields.find(_.name == key).map(_.dataType)).map { t =>
      if (m.entries.isEmpty) Set.empty[String]
      else pruneToKeyRange(m, key, t, sourcePass(changes, Some(col(key)),
        None)._1)
    }

  /** The key type the key-range prune compares under, or None when it
    * cannot prune. The comparison type must be the BASE column's — the
    * type the stat strings were captured under. A changeset carrying
    * the key as a different type (long base, string changes) would make
    * the comparator read numeric stat strings lexically and mis-prune;
    * the resolve join would still match via implicit casts, so the only
    * safe answer for a type mismatch is "no pruning". */
  private def prunableKeyType(m: SnapshotStore.Manifest, key: String,
      changeKeyType: Option[org.apache.spark.sql.types.DataType])
      : Option[org.apache.spark.sql.types.DataType] =
    m.schema.flatMap(_.fields.find(_.name == key)).map(_.dataType)
      .filter(t => !changeKeyType.exists(_ != t) &&
        SnapshotStore.supportedStatType(t) &&
        (m.entries.isEmpty ||
          m.entries.exists(_.stats.exists(_.cols.contains(key)))))

  /** Values of the entries whose key range could hold a change key in
    * `bounds` (the changeset's non-null min/max; None = no non-null
    * key, so nothing can match). Entries WITHOUT key stats stay in. */
  private def pruneToKeyRange(m: SnapshotStore.Manifest, key: String,
      keyType: org.apache.spark.sql.types.DataType,
      bounds: Option[(Any, Any)]): Set[String] = bounds match {
    case None => Set.empty
    case Some((lo, hi)) =>
      val cmin = SnapshotStore.statString(lo)
      val cmax = SnapshotStore.statString(hi)
      m.entries.filter { e =>
        e.stats.flatMap(_.cols.get(key)) match {
          case Some(cs) =>
            SnapshotStore.statCompare(keyType, cs.max, cmin) >= 0 &&
              SnapshotStore.statCompare(keyType, cs.min, cmax) <= 0
          case None => true // stats-less entry: conservatively a candidate
        }
      }.map(_.value).toSet
  }
}
