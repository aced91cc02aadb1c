package graft.operators

import graft.etl.SnapshotStore
import graft.etl.SnapshotStore.{DvEntCol, DvFileCol, DvPosCol, Entry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level UPDATE and DELETE over snapshot tables — the
  * general-predicate complement to the metadata-only partition DROP
  * ([[SnapshotStore.dropPartitions]]) and the key-addressed MERGE
  * ([[MergeInto]]). Row mutations are ClickHouse operational practice
  * (`ALTER TABLE … UPDATE/DELETE`) — an extension here, not in the
  * reference's query set. Each statement is one atomic snapshot
  * commit, with TWO write strategies per touched partition-value
  * group, chosen by the DELETE FRACTION:
  *
  *   - MERGE-ON-READ (deletion vectors, the Delta-DV / Iceberg-v2
  *     position-delete shape): when the statement touches ≤
  *     `graft.dv.maxDeleteFraction` (default 0.2) of every hit
  *     entry's live rows, the commit writes a tiny position sidecar
  *     naming the deleted rows (plus, for UPDATE, the post-image rows
  *     as an additive part) — a 1-row DELETE in a 100 GB month
  *     commits O(KB), never restating the partition. Readers
  *     anti-apply the vector (one broadcast anti-join);
  *     [[SnapshotStore.compact]] folds vectors into clean files.
  *     Toggle with `graft.dv.enabled` (default true).
  *   - COPY-ON-WRITE (the Delta/Iceberg default shape): above the
  *     fraction (or without entry stats to prove it), the touched
  *     partitions are restated — the right economics when most of a
  *     partition changes anyway.
  *
  * One statement can mix both: each (spec-vintage, value) group
  * decides independently, and the commit is still a single atomic
  * pointer swap with one row-exact CDC sidecar.
  *
  * Discovery is FILE-BASED, not token-based: matched rows carry their
  * `(file, row_index)` identity from the scan, so the touched entries
  * are exactly the dirs holding matched rows — uniform across
  * partition-spec vintages ([[SnapshotStore.evolvePartitionSpec]])
  * and immune to token-rendering concerns. Manifest-stats pruning
  * ([[graft.etl.StatsPruning]]) still bounds the discovery scan to
  * the partitions whose min/max could satisfy the WHERE clause.
  * Copy-on-write restatement of an old-vintage entry MIGRATES it to
  * the current layout (entries' rows restate under the current spec);
  * a deletion vector leaves the entry in place under its own vintage
  * (compaction migrates).
  *
  * At 100 TB the cost is proportional to the TOUCHED data (pushed-
  * filter scans of candidate partitions + either KB-scale vectors or
  * the restated partitions), never to table size.
  *
  * Discovery is evaluated ONCE per statement: the matched rows (data
  * columns, row identity, entry dir) are pinned
  * ([[graft.util.Checkpoints.pin]]) and released when the commit
  * returns or throws. Routing, landing tokens, DV positions, DV
  * post-images and the CDC images all read that pinned frame, so a
  * table carrying vectors pays their broadcast once, not once per
  * consumer.
  *
  * CONTRACT: `cond` and every SET value must be DETERMINISTIC. The
  * pinned discovery serves every consumer of the MATCHED rows, but
  * copy-on-write restatement content is a second pass: it re-reads
  * the touched partitions whole and re-evaluates `cond` (and, for
  * UPDATE, the SET values) over them, so a `rand()`-dependent
  * predicate would let the restated content disagree with the CDC and
  * routing. The SQL entry points ([[graft.plans.SnapshotUpdateRewrite]])
  * enforce this at analysis; Scala callers own it. SQL NULL semantics:
  * a NULL condition row is NOT matched (`WHERE NULL` selects nothing),
  * so the condition is null-coalesced to false on every pass. */
object RowLevelOps {

  private def dvConf(spark: SparkSession): (Boolean, Double) = (
    spark.conf.getOption("graft.dv.enabled").forall(_.toBoolean),
    spark.conf.getOption("graft.dv.maxDeleteFraction")
      .map(_.toDouble).getOrElse(0.2))

  /** The pinned discovery frame's entry-dir column: the scanned row's
    * manifest entry dir, see [[SnapshotStore.entryDirCol]]. */
  private val DirCol = "__dir"

  /** Shared discovery state for one row-level statement. */
  private final case class Discovery(
      m: SnapshotStore.Manifest,
      schema: org.apache.spark.sql.types.StructType,
      // PINNED: the DV-applied candidates satisfying the condition —
      // data columns + (file, pos) + DirCol
      matched: DataFrame,
      hitByDir: Map[String, Long], // matched-row count per entry dir
      dvGroups: Seq[Entry], // HIT entries taking the DV path
      cowEntries: Seq[Entry]) // ALL entries of COW-routed value groups

  /** DEMOTE DV groups whose (current-spec) value collides with a
    * RESTATED landing value to the COW route: a restatement drops and
    * rewrites every entry of the values it lands in, so an entry
    * cannot simultaneously carry a new vector — COW is always correct,
    * so collisions resolve in that direction (at worst they restate a
    * partition the vector would have spared). */
  private def demote(d: Discovery, collide: Set[String]): Discovery = {
    if (collide.isEmpty || d.dvGroups.isEmpty) return d
    val (demoted, keep) = d.dvGroups.partition(e =>
      e.spec.isEmpty && collide(e.value))
    if (demoted.isEmpty) return d
    val vals = demoted.map(_.value).toSet
    val extraCow = d.m.entries.filter(e => e.spec.isEmpty && vals(e.value))
    d.copy(dvGroups = keep,
      cowEntries = (d.cowEntries ++ extraCow).distinctBy(_.dir))
  }

  /** Scan the stats-pruned candidates (DV-applied, with row identity)
    * once, PIN the matched rows, count them per entry dir, route each
    * hit (spec-vintage, value) group to the DV or COW strategy, and run
    * `body` on the result. The pin is released after `body` returns or
    * throws. */
  private def withDiscovery[T](spark: SparkSession, root: String,
      m: SnapshotStore.Manifest, base: DataFrame,
      matchedCond: Column, spec: graft.etl.PartitionSpec)
      (body: Discovery => T): T = {
    val schema = m.schema.getOrElse(base.schema)
    val candEntries = graft.etl.StatsPruning
      .candidateValues(m, base, matchedCond) match {
      case Some(vs) => m.entries.filter(e => vs(e.value))
      case None => m.entries
    }
    val (matched, release) = graft.util.Checkpoints.pin(SnapshotStore
      .readEntriesWithPositions(spark, root, schema, candEntries)
      .filter(matchedCond).withColumn(DirCol, SnapshotStore.entryDirCol))
    try body(route(spark, root, m, schema, matched, spec))
    finally release()
  }

  /** Per-dir hit counts over the pinned matched rows (one single-stage
    * job), then the DV/COW routing of [[withDiscovery]]. */
  private def route(spark: SparkSession, root: String,
      m: SnapshotStore.Manifest,
      schema: org.apache.spark.sql.types.StructType, matched: DataFrame,
      spec: graft.etl.PartitionSpec): Discovery = {
    import spark.implicits._
    val hitByDir: Map[String, Long] = matched.select(col(DirCol)).as[String]
      .mapPartitions { dirs =>
        val n = scala.collection.mutable.HashMap.empty[String, Long]
        dirs.foreach(d => n(d) = n.getOrElse(d, 0L) + 1L)
        n.iterator
      }.collect().groupMapReduce(_._1)(_._2)(_ + _)
    val (dvEnabled, maxFrac) = dvConf(spark)
    val byDir = m.entries.map(e => e.dir -> e).toMap
    // strategy decision at (vintage, value)-GROUP granularity: COW
    // restates whole value groups (all parts of a value drop
    // together), so one over-fraction entry routes its whole group
    def groupKey(e: Entry): (Option[String], String) =
      (e.spec.map(s => SnapshotStore.parseSpec(s).canonical), e.value)
    val hitEntries = hitByDir.keys.toSeq.sorted.map(byDir)
    val hitGroups = hitEntries.groupBy(groupKey)
    val (dvGroupsM, cowGroupsM) = hitGroups.partition { case (_, es) =>
      dvEnabled && es.forall { e =>
        SnapshotStore.liveRows(e).exists(live =>
          live > 0L && hitByDir(e.dir).toDouble / live <= maxFrac)
      }
    }
    val cowKeys = cowGroupsM.keySet
    val cowEntries = m.entries.filter(e => cowKeys(groupKey(e)))
    val d0 = Discovery(m, schema, matched, hitByDir,
      dvGroupsM.values.flatten.toSeq.sortBy(_.dir), cowEntries)
    // old-vintage HIT entries that restate MIGRATE their rows to
    // current-spec landing values — a DV group at one of those values
    // would collide with the restatement. Demote against the SUPERSET
    // of landing values (every old-vintage hit entry's content,
    // whether it ends up COW or DV — conservative: extra demotion only
    // trades a vector for a correct restatement).
    val oldDirs = (d0.cowEntries ++ d0.dvGroups)
      .filter(_.spec.isDefined).map(_.dir).toSet
    if (d0.dvGroups.isEmpty || oldDirs.isEmpty) d0
    else {
      val landSuper = SnapshotStore.readEntriesWhere(spark, root,
          e => oldDirs(e.dir))
        .select(spec.tokenExpr(col).as("__tok")).distinct()
        .collect().map(_.getString(0)).toSet
      demote(d0, landSuper)
    }
  }

  /** The DV delta inputs for [[SnapshotStore.restatePartitions]]:
    * ordered (dir → hit count) list + one keyed positions frame, keyed
    * by a literal dir → index map over the pinned rows (no join). */
  private def dvInputs(d: Discovery)
      : (Seq[(String, Long)], Option[DataFrame]) =
    if (d.dvGroups.isEmpty) (Nil, None)
    else {
      val dvEntries = d.dvGroups.map(e => e.dir -> d.hitByDir(e.dir))
      val index = typedLit(dvEntries.map(_._1).zipWithIndex.toMap)
      val positions = d.matched
        .filter(col(DirCol).isInCollection(dvEntries.map(_._1)))
        .select(index(col(DirCol)).as(DvEntCol), col(DvFileCol),
          col(DvPosCol))
      (dvEntries, Some(positions))
    }

  /** COW/restatement scope — shared with [[MergeInto]]: the content to
    * restate (current-spec touched values + old-vintage touched
    * entries, which MIGRATE to the current layout), the value set to
    * drop, and the (spec, value) pairs of migrating old-vintage
    * entries. `extraLanding` widens the drop set with landing values
    * discovered by the caller (partition-moving SETs, MERGE
    * insert/update targets). Old-vintage content restates under the
    * CURRENT spec, so its landing values join the drop set — and any
    * current-spec entry of those values joins the restated content. */
  private[operators] def restatementScope(spark: SparkSession,
      root: String, cowEntries: Seq[Entry],
      spec: graft.etl.PartitionSpec, extraLanding: Set[String])
      : (DataFrame, Set[String], Set[(String, String)]) = {
    val (oldCow, curCow) = cowEntries.partition(_.spec.isDefined)
    val dropOld = oldCow.map(e =>
      (SnapshotStore.parseSpec(e.spec.get).canonical, e.value)).toSet
    val oldContent =
      if (oldCow.isEmpty) None
      else Some(SnapshotStore.readEntriesWhere(spark, root,
        e => e.spec.exists(s =>
          dropOld((SnapshotStore.parseSpec(s).canonical, e.value)))))
    val oldLanding: Set[String] = oldContent.map(
      _.select(spec.tokenExpr(col).as("__tok")).distinct()
        .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    val dropValues = curCow.map(_.value).toSet ++ oldLanding ++
      extraLanding
    val curContent = SnapshotStore.readEntriesWhere(spark, root,
      e => e.spec.isEmpty && dropValues(e.value))
    val content = oldContent
      .map(curContent.unionByName(_)).getOrElse(curContent)
    (content, dropValues, dropOld)
  }

  /** `UPDATE t SET col = v, … WHERE cond` as one atomic commit. `sets`
    * values see the OLD row (standard SQL UPDATE). Assigning a
    * partition-source column moves rows across partitions: COW rows'
    * landing partitions restate alongside their sources; DV rows'
    * post-images land as additive parts wherever their new token
    * points. Returns the committed snapshot id (the prior id when
    * nothing matched — no commit). */
  def updateCommit(spark: SparkSession, root: String, cond: Column,
      sets: Seq[(String, Column)], partCol: String, sortCol: String)
      : Long =
    SnapshotStore.withTableLock(root) {
      val m = SnapshotStore.current(root).getOrElse(
        throw new IllegalStateException(s"no snapshot at $root to update"))
      // COW restatement renders partition tokens — on a TZ-timestamp
      // partition column that is only sound when this session renders
      // like the writer's
      SnapshotStore.checkTokenRenderZone(spark, m, partCol,
        "row-level UPDATE")
      SnapshotStore.requireNoEqDeletes(m, "row-level UPDATE")
      val matchedCond = coalesce(cond, lit(false))
      val base = SnapshotStore.read(spark, root)
      val setMap = sets.toMap
      require(sets.size == setMap.size,
        s"duplicate SET column: ${sets.map(_._1).diff(setMap.keys.toSeq)}")
      val unknown = setMap.keySet.diff(base.columns.toSet)
      require(unknown.isEmpty, s"SET of unknown column(s): $unknown")
      val spec = SnapshotStore.parseSpec(partCol)
      withDiscovery(spark, root, m, base, matchedCond, spec) { d0 =>
        if (d0.hitByDir.isEmpty) m.id
        else {
          val dataCols = d0.schema.fieldNames.toIndexedSeq
          def q(n: String) = s"`${n.replace("`", "``")}`"
          val movesPartition = spec.sourceCols.exists(setMap.contains)
          // landing tokens: SET values substitute, CAST through the
          // column type so bucket components hash the stored
          // representation
          def landTok = spec.tokenExpr(n =>
            setMap.get(n).map(_.cast(d0.schema(n).dataType))
              .getOrElse(col(q(n)))).as("__tok")
          // a partition-moving SET: every matched row's landing token
          // with its entry dir, in one pass over the pinned rows
          val landByDir: Seq[(String, String)] =
            if (!movesPartition) Nil
            else d0.matched.select(col(DirCol), landTok).distinct()
              .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
          // a partition-moving SET can land COW rows in a value whose
          // entries were DV-routed — restatement and vector attachment
          // cannot share an entry, so colliding DV groups demote to COW
          // (the superset of ALL matched rows' landing values is used:
          // conservative, never wrong)
          val d = demote(d0, landByDir.map(_._2).toSet)
          // standard SQL UPDATE projection: assignments evaluate against
          // pre-update values; non-matching rows pass through
          val proj = dataCols.map { n =>
            setMap.get(n) match {
              case Some(v) => when(matchedCond, v).otherwise(col(q(n))).as(n)
              case None => col(q(n))
            }
          }
          // landing values of COW-matched rows
          val cowDirs = d.cowEntries.map(_.dir).toSet
          val landing = landByDir.collect {
            case (dir, tok) if cowDirs(dir) => tok }.toSet
          val (content, dropValues, dropOld) =
            restatementScope(spark, root, d.cowEntries, spec, landing)
          val resolvedCow = content.select(proj: _*)
          // DV side: delete positions + post-image rows as additive parts
          val (dvEntries, dvPositions) = dvInputs(d)
          val dvDirs = d.dvGroups.map(_.dir).toSet
          val postDv =
            if (dvDirs.isEmpty) None
            else Some(d.matched
              .filter(col(DirCol).isInCollection(dvDirs.toSeq))
              .select(proj: _*))
          // where post-images land: with the partition source columns
          // unassigned, a current-spec entry's rows land at that
          // entry's own value (spec source columns cannot be widened,
          // so they re-render to it); old-vintage entries restate
          // under the current spec and a moving SET goes anywhere, so
          // those tokens come from the pinned rows
          val (scanDv, ownDv) = d.dvGroups.partition(e =>
            movesPartition || e.spec.isDefined)
          val scanDirs = scanDv.map(_.dir).toSet
          val scanned: Set[String] =
            if (scanDirs.isEmpty) Set.empty
            else d.matched.filter(col(DirCol).isInCollection(scanDirs.toSeq))
              .select(proj: _*)
              .select(spec.tokenExpr(n => col(q(n))).as("__tok"))
              .distinct().collect().map(_.getString(0)).toSet
          val appendValues = ownDv.map(_.value).toSet ++ scanned -- dropValues
          val resolved = postDv
            .map(resolvedCow.unionByName(_)).getOrElse(resolvedCow)
          // row-exact CDC: every matched row's pre- and post-image,
          // from the pinned discovery rows
          val pre = d.matched.select(dataCols.map(n => col(q(n))): _*)
          val post = d.matched.select(proj: _*)
          val cdc = pre.withColumn("_change_type", lit("update_preimage"))
            .unionByName(
              post.withColumn("_change_type", lit("update_postimage")))
          SnapshotStore.restatePartitions(Some(resolved), root, dropValues,
            partCol, sortCol, cdc = Some(cdc), dropOld = dropOld,
            appendValues = appendValues, dvPositions = dvPositions,
            dvEntries = dvEntries)
        }
      }
    }

  /** `DELETE FROM t WHERE cond` for predicates the metadata-only
    * partition drop cannot express. Low delete fractions commit a
    * deletion vector (O(deleted positions)); high fractions restate
    * the touched partitions with the rows filtered out; a drained
    * partition's entry drops either way. Returns the committed
    * snapshot id (the prior id when nothing matched). */
  def deleteRowsCommit(spark: SparkSession, root: String, cond: Column,
      partCol: String, sortCol: String): Long =
    SnapshotStore.withTableLock(root) {
      val m = SnapshotStore.current(root).getOrElse(
        throw new IllegalStateException(
          s"no snapshot at $root to delete from"))
      SnapshotStore.checkTokenRenderZone(spark, m, partCol,
        "row-level DELETE")
      SnapshotStore.requireNoEqDeletes(m, "row-level DELETE")
      val matchedCond = coalesce(cond, lit(false))
      val base = SnapshotStore.read(spark, root)
      val spec = SnapshotStore.parseSpec(partCol)
      withDiscovery(spark, root, m, base, matchedCond, spec) { d =>
        if (d.hitByDir.isEmpty) m.id
        else {
          val dataCols = d.schema.fieldNames.toIndexedSeq
          def q(n: String) = s"`${n.replace("`", "``")}`"
          val (content, dropValues, dropOld) =
            restatementScope(spark, root, d.cowEntries, spec, Set.empty)
          // every group on the DV route: no data is restated at all
          // (a pre-schema table still commits the typed empty content)
          val resolved =
            if (d.cowEntries.isEmpty && m.schema.isDefined) None
            else Some(content.filter(!matchedCond))
          val (dvEntries, dvPositions) = dvInputs(d)
          // row-exact CDC sidecar: exactly the deleted rows (DV + COW),
          // from the pinned discovery rows
          val cdc = d.matched.select(dataCols.map(n => col(q(n))): _*)
            .withColumn("_change_type", lit("delete"))
          SnapshotStore.restatePartitions(resolved, root, dropValues,
            partCol, sortCol, cdc = Some(cdc), dropOld = dropOld,
            dvPositions = dvPositions, dvEntries = dvEntries)
        }
      }
    }
}
