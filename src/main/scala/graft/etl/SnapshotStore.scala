package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Atomic multi-file snapshot commits for the writer family — closing
  * the production gap every in-place restatement shares (an EXTENSION:
  * the reference's only replay is re-running its import loop,
  * README.md:527-532; partition replacement via `ALTER TABLE … DROP
  * PARTITION` + re-INSERT is standard ClickHouse MergeTree operational
  * practice, not shown in the reference):
  * [[MergeTreeWriter.overwritePartitions]] rewrites directory state in
  * place, so a reader racing a backfill can list a half-written
  * partition. Here a table is a MANIFEST POINTER, not a directory:
  *
  * {{{
  * root/
  *   MANIFEST                 <- the pointer readers resolve (one file,
  *                               replaced by ATOMIC_MOVE — all-or-nothing)
  *   manifests/manifest-<id>  <- retained history: time travel + diff
  *   data/snap-<id>/__part=v/ <- immutable data dirs, never mutated
  * }}}
  *
  * Invariants that make the isolation hold:
  *   - data dirs are write-once: no commit ever mutates or appends to a
  *     dir an earlier manifest references;
  *   - a reader resolves the pointer ONCE, then plans only over the
  *     dirs that manifest lists — it can never observe half of one
  *     commit and half of another;
  *   - the pointer swap is a single same-directory rename
  *     (`ATOMIC_MOVE`), atomic on POSIX: concurrent readers see the old
  *     manifest or the new one, never a torn file. The manifest is
  *     fsync'd before the move so a crash can't publish a torn pointer.
  *
  * Partition-level reuse keeps backfill cost proportional to the
  * restated data (the dynamic-overwrite property, now atomic): a new
  * manifest lists NEW dirs for the restated partitions and the PRIOR
  * manifest's dirs for every other partition — at 100 TB a one-month
  * restatement writes one month and one ~KB manifest, and the swap cost
  * is independent of table size. The partition column is duplicated
  * into a `__part` directory key so the data files keep the real
  * column: a manifest read is then `spark.read.parquet(dirs*)` with no
  * per-partition reconstruction, and manifest-entry pruning
  * ([[readWhere]]) is partition pruning without any file listing.
  *
  * Writer coordination, three layers (readers need none of it): a
  * per-root JVM monitor serializes threads, a `FileLock` on
  * `.commit.lock` serializes processes on one host, and the COMMIT
  * CHAIN serializes hosts — every commit atomically claims
  * `manifests/commit-<base.seq+1>` via `link(2)` (exclusive create:
  * the one filesystem primitive that is a cross-host test-and-set on
  * a shared POSIX mount), so of two writers racing from the same base
  * exactly one publishes and the other gets a loud
  * [[ConcurrentCommitException]] instead of silently reverting the
  * winner (the lost update a last-writer-wins pointer swap cannot
  * detect). MANIFEST remains the read HINT; [[current]] repairs it
  * forward along the chain. [[expire]] bounds disk growth by dropping
  * manifests beyond a retention horizon and deleting data dirs no
  * retained manifest references — the current pointer is always
  * retained, so it never pulls files out from under a live reader
  * resolving within the horizon.
  */
object SnapshotStore {

  /** Per-column min/max of one manifest entry, as canonical strings
    * ([[SnapshotStore.statString]] / compared by
    * [[SnapshotStore.statCompare]] under the column's manifest type).
    * All-null columns carry no ColStats. */
  final case class ColStats(min: String, max: String)

  /** Per-entry (per partition dir) statistics, captured at write time:
    * row count + min/max for every supported-type column (capped at
    * [[SnapshotStore.StatsColCap]]). This is the Iceberg-style manifest
    * metadata that lets planning decisions happen on the ~KB manifest
    * instead of a data scan: MERGE discovery prunes partitions whose
    * key range cannot hold a change key
    * ([[graft.operators.MergeInto.mergeCommit]]), and the DSV2 read
    * path reports exact row counts to the optimizer. */
  /** Per-FILE stats inside one entry dir — harvested for the table
    * SORT column only (the column [[rewriteDataFiles]]' range binpack
    * slices into contiguous, non-overlapping runs): `name` is the
    * file's basename within the entry dir. One file-grain [min,max]
    * per ~target-sized file lets the scan skip FILES inside a kept
    * dir, the way entry stats skip dirs — a narrow sort-range probe
    * on a binpacked 100 GB partition plans one file, not all of them.
    * Kept to a single column deliberately: per-file × all-columns is
    * the known Iceberg-manifest bloat; the sort column is the one
    * whose runs are disjoint, so it is the one that pays. */
  final case class FileStats(name: String, rows: Long,
      cols: Map[String, ColStats])

  /** `files` empty = no per-file grain recorded (pre-r14 manifests,
    * or a sort column with no stat-capable type) — consumers treat
    * that conservatively, exactly like a stats-less entry. */
  final case class EntryStats(rows: Long, cols: Map[String, ColStats],
      files: Seq[FileStats] = Nil)

  /** One partition of one snapshot: partition VALUE (as written in the
    * `__part=` dir name) → data dir RELATIVE to the table root, plus
    * optional write-time [[EntryStats]] (None for entries committed
    * before stats existed — every consumer treats a stats-less entry
    * conservatively). The manifest also records the table SCHEMA as of
    * its commit (schema evolution: a backfill adding a column merges
    * it in; readers apply the manifest schema to every listed dir in
    * O(1) — old files' missing columns read as null, no per-file
    * footer merging). */
  /** `spec` is the PARTITION SPEC the entry's `value` token was
    * rendered under — None means the table's CURRENT spec (the
    * [[PartColProp]] layout). Evolution ([[evolvePartitionSpec]])
    * stamps every then-current entry with the outgoing spec, so the
    * None ⟺ current invariant holds across any number of evolutions;
    * DML restatement and [[compact]] migrate stamped entries back to
    * the current layout. */
  /** A DELETION VECTOR reference — the merge-on-read complement to
    * copy-on-write restatement (Iceberg v2 position deletes / Delta
    * DVs): `dir` holds a tiny parquet sidecar of `(__dv_file,
    * __dv_pos)` rows naming the entry's DELETED row positions, `rows`
    * is their count (so live-row accounting stays exact without
    * reading the sidecar). Readers anti-apply the vector; a 1-row
    * DELETE on a 100 GB partition commits O(KB) instead of restating
    * the partition. Folded away by any restatement/compaction of the
    * entry. */
  final case class DvRef(dir: String, rows: Long)

  /** An EQUALITY-DELETE reference (Iceberg v2 equality deletes — the
    * streaming-upsert complement to position deletes): `dir` holds a
    * small parquet sidecar of DISTINCT key tuples (PHYSICAL column
    * spelling, like data files — rename-invariant), committed by
    * [[appendUpsert]] in the same atomic commit as the batch's data
    * parts. Semantics: a key tuple in commit `id`'s sidecar DELETES
    * every row of every entry BORN BEFORE `id` (entry birth = the
    * snap id in its dir path) whose key columns equal the tuple —
    * "this batch's rows replace all older rows with these keys",
    * which is what makes a streaming CDC upsert commit O(batch)
    * instead of a read-modify-write of the whole state. Readers
    * anti-apply; carried in manifest PROPS (key `eqdel.<id>`) so
    * every commit kind forwards them automatically; auto-pruned by
    * [[commitManifest]] once no entry predates them (restatement
    * naturally ages entries past the delete — a rewrite's fresh
    * entries are born after it and were read resolved). */
  final case class EqDeleteRef(id: Long, dir: String,
      cols: Seq[String], rows: Long)

  private[graft] val EqDelPropPrefix = "eqdel."
  private[graft] val EqDelDirName = "_eqdel"

  private[graft] def eqDelDirOf(root: String, id: Long): Path =
    Paths.get(root, "data", s"snap-$id", EqDelDirName)

  /** Every equality delete the manifest carries, id ascending. */
  private[graft] def eqDeletesOf(m: Manifest): Seq[EqDeleteRef] =
    m.props.toSeq.collect {
      case (k, v) if k.startsWith(EqDelPropPrefix) =>
        parseEqDelProp(k.stripPrefix(EqDelPropPrefix).toLong, v)
    }.sortBy(_.id)

  private def renderEqDelProp(r: EqDeleteRef): (String, String) = {
    import org.json4s.JsonDSL._
    (EqDelPropPrefix + r.id,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          ("dir" -> r.dir) ~ ("cols" -> r.cols.toList) ~
            ("rows" -> r.rows))))
  }

  private def parseEqDelProp(id: Long, v: String): EqDeleteRef = {
    import org.json4s._
    val jv = jackson.JsonMethods.parse(v)
    val dir = (jv \ "dir") match {
      case JString(s) => s
      case o => sys.error(s"bad eqdel dir: $o")
    }
    val cols = (jv \ "cols") match {
      case JArray(cs) => cs.map {
        case JString(s) => s
        case o => sys.error(s"bad eqdel col: $o")
      }
      case o => sys.error(s"bad eqdel cols: $o")
    }
    val rows = (jv \ "rows") match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case o => sys.error(s"bad eqdel rows: $o")
    }
    EqDeleteRef(id, dir, cols, rows)
  }

  /** Birth commit of an entry — the snap id its dir path names. */
  private[graft] def birthOf(e: Entry): Long =
    e.dir.stripPrefix("data/snap-").takeWhile(_.isDigit).toLong

  /** Row-level DML discovery reads entries RAW (un-displaced) — on a
    * table with live equality deletes it would restate resurrected
    * rows. Refuse loudly until they are folded; appends, upserts,
    * partition-granular deletes, reads, time travel and the change
    * feed all keep working. */
  private[graft] def requireNoEqDeletes(m: Manifest, what: String)
      : Unit = {
    val eqs = eqDeletesOf(m)
    require(eqs.isEmpty,
      s"$what is not supported while equality deletes are live " +
        s"(upsert commits ${eqs.map(_.id).mkString(", ")}) — fold " +
        "them first (SnapshotStore.rewriteDataFiles or compact), " +
        "then retry")
  }

  final case class Entry(value: String, dir: String,
      stats: Option[EntryStats] = None,
      spec: Option[String] = None,
      dv: Option[DvRef] = None)

  /** Apply a column-stats transform at BOTH grains (entry + per-file)
    * — the DDL paths (DROP/WIDEN drop a column's stats, RENAME re-keys
    * them) must keep the grains consistent, or a stale per-file key
    * would dodge the transform and mis-prune after a rename. */
  private def mapStatsCols(s: EntryStats,
      f: Map[String, ColStats] => Map[String, ColStats]): EntryStats =
    s.copy(cols = f(s.cols),
      files = s.files.map(fs => fs.copy(cols = f(fs.cols))))

  /** Exact LIVE row count of an entry: write-time stats minus the
    * deletion vector's positions. None when the entry predates stats
    * capture (consumers treat unknown conservatively). */
  private[graft] def liveRows(e: Entry): Option[Long] =
    e.stats.map(_.rows - e.dv.map(_.rows).getOrElse(0L))

  /** Minimum reader era required to read this table correctly,
    * recomputed by every commit: "3" while any EQUALITY DELETE is
    * live ([[EqDeleteRef]]), "2" while any entry carries a deletion
    * vector — either feature silently ignored would resurrect
    * deleted rows, the manifest features an old binary cannot safely
    * skip — absent (= era 1) otherwise. [[parse]] refuses eras above
    * [[SupportedReaderVersion]] loudly. The r13→r14 manifest additions
    * (ts= header, spec=/dv= entry fields) are one-way for OLD binaries
    * regardless — see MIGRATION.md's manifest-era table. */
  private[graft] val ReaderVersionProp = "format.reader"
  private[graft] val SupportedReaderVersion = 3L
  /** `props` is durable table metadata carried forward across every
    * commit kind (append tokens must survive an interleaved backfill
    * or compaction — see [[appendPartitions]]'s exactly-once note). A
    * partition VALUE may appear in several entries: an append commit
    * adds new dirs ("parts", MergeTree-style) without dropping prior
    * ones; readers scan all of them, [[compact]] folds them back to
    * one dir per partition. */
  /** `ts` is the commit WALL TIME (epoch millis), stamped by
    * [[commitManifest]] on every commit — the `TIMESTAMP AS OF`
    * resolution key. None only on manifests committed before stamping
    * existed (those resolve by id/tag, never by time). */
  final case class Manifest(id: Long, entries: Seq[Entry],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      props: Map[String, String] = Map.empty,
      ts: Option[Long] = None)

  private val PartKey = "__part"

  // ---- partition-value escaping ------------------------------------------

  /** Spark's dynamic-partition writer escapes special characters in
    * directory names as %XX (escapePathName: '/', ':', '=', '%', and
    * control chars among others). `Entry.value` carries the REAL
    * value — decoded when listing written dirs with SPARK'S OWN
    * inverse (so the pair can never drift across Spark upgrades) — so
    * `readWhere` predicates match what the user actually wrote, not
    * the escaped dir token. Manifest LINES use a separate pair below:
    * escape '%', '=', tab, newline, CR — '=' because a raw value
    * starting with "schema=" (or "id=") would otherwise collide with
    * the header-line format and be mis-parsed as a header, silently
    * dropping the partition from every future manifest. */
  private def unescapeDirToken(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(s)

  private def unescapeToken(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          Character.digit(s.charAt(i + 1), 16) >= 0 &&
          Character.digit(s.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
          Character.digit(s.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def escapeValue(s: String): String =
    s.flatMap {
      case c @ ('%' | '=' | '\t' | '\n' | '\r') => f"%%${c.toInt}%02X"
      case c => c.toString
    }

  // ---- manifest encoding -------------------------------------------------

  /** Entry stats as one compact JSON token (jackson string escaping
    * keeps it free of raw tabs/newlines, so it is safe as the third
    * tab-separated field of an entry line):
    * `{"rows":N,"cols":{"name":["min","max"],…}}`. */
  private def statsJson(s: EntryStats): String = {
    import org.json4s.JsonDSL._
    def colsJson(cols: Map[String, ColStats]) =
      org.json4s.JObject(cols.toList.sortBy(_._1).map {
        case (n, cs) =>
          n -> (org.json4s.JArray(List(
            org.json4s.JString(cs.min), org.json4s.JString(cs.max)))
            : org.json4s.JValue)
      })
    val base = ("rows" -> s.rows) ~ ("cols" -> colsJson(s.cols))
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        // "files" only when present: older-era manifests stay
        // byte-identical, and an absent field parses as Nil
        if (s.files.isEmpty) base
        else base ~ ("files" ->
          org.json4s.JArray(s.files.sortBy(_.name).toList.map { fs =>
            (("f" -> fs.name) ~ ("rows" -> fs.rows) ~
              ("cols" -> colsJson(fs.cols))): org.json4s.JValue
          }))))
  }

  private def parseStatsJson(j: String): EntryStats = {
    import org.json4s._
    def parseCols(jv: JValue): Map[String, ColStats] = jv match {
      case JObject(fields) => fields.map {
        case (n, JArray(List(JString(mn), JString(mx)))) =>
          n -> ColStats(mn, mx)
        case other => sys.error(s"bad stats col: $other")
      }.toMap
      case _ => Map.empty[String, ColStats]
    }
    def parseRows(jv: JValue): Long = jv match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other => sys.error(s"bad stats rows: $other")
    }
    val jv = jackson.JsonMethods.parse(j)
    val files = (jv \ "files") match {
      case JArray(fs) => fs.map { f =>
        val name = (f \ "f") match {
          case JString(s) => s
          case other => sys.error(s"bad file stats name: $other")
        }
        FileStats(name, parseRows(f \ "rows"), parseCols(f \ "cols"))
      }
      case _ => Nil // pre-file-stats manifests
    }
    EntryStats(parseRows(jv \ "rows"), parseCols(jv \ "cols"), files)
  }

  private def render(m: Manifest): String =
    (Seq(s"id=${m.id}") ++
      m.ts.map(t => s"ts=$t") ++
      m.schema.map(s => s"schema=${s.json}") ++
      // "prop=" can never collide with an entry line: escapeValue
      // escapes '=' in partition values, so a value spelled "prop=x"
      // renders as "prop%3Dx"
      m.props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"prop=${escapeValue(k)}\t${escapeValue(v)}" } ++
      m.entries.sortBy(e => (e.value, e.dir))
        .map(e => s"${escapeValue(e.value)}\t${e.dir}" +
          e.stats.map(s => s"\t${statsJson(s)}").getOrElse("") +
          // distinguishable from the stats field by prefix: stats is
          // always a '{'-opened JSON object, this is 'spec='
          e.spec.map(s => s"\tspec=${escapeValue(s)}").getOrElse("") +
          // deletion vector: sidecar dir + deleted-position count,
          // prefix-classified like spec= (era-2 field — commits
          // carrying any dv= stamp format.reader=2)
          e.dv.map(d =>
            s"\tdv=${escapeValue(d.dir)}\tdvrows=${d.rows}")
            .getOrElse("")))
      .mkString("", "\n", "\n")

  private def parse(p: Path): Manifest = {
    val lines = Files.readString(p, StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    val id = lines.head.stripPrefix("id=").toLong
    val (tsLines, rest0) =
      lines.tail.partition(_.startsWith("ts="))
    val ts = tsLines.headOption.map(_.stripPrefix("ts=").toLong)
    val (schemaLines, rest) =
      rest0.partition(_.startsWith("schema="))
    val (propLines, entryLines) = rest.partition(_.startsWith("prop="))
    val schema = schemaLines.headOption.map(l =>
      org.apache.spark.sql.types.DataType
        .fromJson(l.stripPrefix("schema="))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    val props = propLines.map { l =>
      val Array(k, v) = l.stripPrefix("prop=").split("\t", 2)
      unescapeToken(k) -> unescapeToken(v)
    }.toMap
    // reader-era gate BEFORE entries are trusted: a manifest demanding
    // a newer era than this binary supports must refuse loudly — the
    // one era-2 feature (deletion vectors) silently ignored would
    // resurrect deleted rows
    props.get(ReaderVersionProp).flatMap(_.toLongOption).foreach { v =>
      require(v <= SupportedReaderVersion,
        s"manifest at $p requires reader era $v but this binary " +
          s"supports era $SupportedReaderVersion — upgrade the reader " +
          "(see MIGRATION.md, manifest eras)")
    }
    Manifest(id, entryLines.map { l =>
      // pre-stats manifests have two fields; later eras append
      // optional stats ('{'-opened JSON), spec ('spec='-prefixed) and
      // deletion-vector ('dv='/'dvrows='-prefixed) fields — classified
      // by prefix, so every era parses
      val fields = l.split("\t")
      val v = fields(0)
      val dir = fields(1)
      val rest = fields.drop(2)
      Entry(unescapeToken(v), dir,
        rest.find(_.startsWith("{")).map(parseStatsJson),
        rest.find(_.startsWith("spec="))
          .map(s => unescapeToken(s.stripPrefix("spec="))),
        for {
          d <- rest.find(_.startsWith("dv="))
          r <- rest.find(_.startsWith("dvrows="))
        } yield DvRef(unescapeToken(d.stripPrefix("dv=")),
          r.stripPrefix("dvrows=").toLong))
    }, schema, props, ts)
  }

  /** Names + types recursively; nullability and field METADATA
    * ignored (the public mirror of Catalyst's private `sameType`). */
  private def structurallyEqual(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x: StructType, y: StructType) =>
        x.fields.length == y.fields.length &&
          x.fields.zip(y.fields).forall { case (f, g) =>
            f.name == g.name && structurallyEqual(f.dataType, g.dataType)
          }
      case (x: ArrayType, y: ArrayType) =>
        structurallyEqual(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        structurallyEqual(x.keyType, y.keyType) &&
          structurallyEqual(x.valueType, y.valueType)
      case (x, y) => x == y
    }
  }

  /** Evolution merge: the prior schema's fields keep their order and
    * types; fields new in `next` append. A same-name field must keep
    * its exact type — silent widening/narrowing across a backfill is a
    * data bug, so it fails the COMMIT, not some later read. */
  private def mergeSchemas(
      prior: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    prior.fields.foreach { pf =>
      nextByName.get(pf.name).foreach { nf =>
        // STRUCTURAL comparison (names + types, nullability and field
        // metadata ignored): a frame read back from the table loses
        // NOT NULL promises and may lack the id/phys stamps the stored
        // schema carries — neither is a type change
        require(structurallyEqual(nf.dataType, pf.dataType),
          s"schema evolution cannot change column '${pf.name}' from " +
            s"${pf.dataType.simpleString} to ${nf.dataType.simpleString}")
      }
    }
    val priorNames = prior.fieldNames.toSet
    val added = next.fields.filterNot(f => priorNames(f.name))
    // a new column must not collide with another field's PHYSICAL name
    // (possible only after a rename freed the logical spelling): files
    // would then carry two columns of one name and the mapped read
    // becomes ambiguous
    added.foreach { f =>
      val clash = prior.fields.find(pf =>
        physName(pf).equalsIgnoreCase(f.name) &&
          !pf.name.equalsIgnoreCase(f.name))
      require(clash.isEmpty,
        s"cannot add column '${f.name}': it collides with the PHYSICAL " +
          s"(pre-rename) name of column '${clash.get.name}' — files " +
          "already spell that name; pick another")
    }
    org.apache.spark.sql.types.StructType(prior.fields ++ added)
  }

  /** Thrown when a commit loses the publish race to a writer this
    * process could not see (another HOST — same-host writers are
    * serialized by [[withTableLock]] and can never hit this): the
    * chain slot `seq` the commit claimed was already taken. The losing
    * commit published NOTHING — its data dirs are orphans [[expire]]
    * sweeps — and the table holds the winner's state. Callers re-read
    * the table and re-run the transaction ([[appendPartitions]] does
    * this automatically: an append is commutative, so only its
    * manifest merge re-runs; read-modify-write transactions like
    * MERGE must re-plan from the new base). */
  final class ConcurrentCommitException(root: String, seq: Long,
      detail: String = "was published by another writer between this " +
        "commit's base read and its publish (cross-host writer race)")
    extends RuntimeException(
      s"concurrent commit at $root: chain slot commit-$seq $detail — " +
        "re-read the table and re-run the transaction")

  /** Commit-chain sequence of a manifest. Every chain-era commit
    * records base.seq+1 in its props; pre-chain manifests fall back to
    * the manifest id (those commits were strictly serialized by the
    * single-host lock and ids strictly increase, so id preserves their
    * order — and the first chain-era commit on a legacy table claims
    * slot id+1, keeping the chain dense from there on). */
  private[graft] val SeqProp = "commit.seq"
  private[graft] def seqOf(m: Manifest): Long =
    m.props.get(SeqProp).map(_.toLong).getOrElse(m.id)

  private def chainFile(root: String, seq: Long): Path =
    Paths.get(root, "manifests", s"commit-$seq")

  /** Any commit chain slot present (live or tombstoned)? A slot can
    * only be CREATED by a successful `link(2)` (tombstones replace
    * slots that were once links) — but slots prove only that the
    * filesystem the table was created on supported links: a table
    * RELOCATED wholesale (rsync, backup restore) carries its slots as
    * plain file copies onto whatever mount it lands on, so capability
    * decisions still run the scratch probe ([[supportsHardLinks]])
    * and use this only to pick the right diagnosis. */
  private def hasChainSlots(root: String): Boolean = {
    val dir = Paths.get(root, "manifests")
    Files.exists(dir) && {
      val s = Files.list(dir)
      try s.anyMatch(p => p.getFileName.toString.startsWith("commit-"))
      finally s.close()
    }
  }

  /** Cached per root: the probe runs once per JVM per table. */
  private val linkProbeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** One-time scratch probe: can `root`'s filesystem create hard
    * links? Links a throwaway file inside manifests/ (same mount as
    * the real claims) and cleans both names up. IOException from the
    * probe's own infrastructure (cannot even create the scratch file)
    * propagates — the caller must not degrade on unknown evidence. */
  private[graft] def supportsHardLinks(root: String): Boolean =
    linkProbeCache.computeIfAbsent(root, { r =>
      val dir = Paths.get(r, "manifests")
      Files.createDirectories(dir)
      val tag = s"${ProcessHandle.current.pid}-${System.nanoTime}"
      val src = dir.resolve(s".linkprobe-src-$tag")
      val dst = dir.resolve(s".linkprobe-dst-$tag")
      try {
        Files.createFile(src)
        try { Files.createLink(dst, src); java.lang.Boolean.TRUE }
        catch {
          case _: UnsupportedOperationException => java.lang.Boolean.FALSE
          case _: java.nio.file.FileSystemException => java.lang.Boolean.FALSE
        }
      } finally {
        try Files.deleteIfExists(dst)
        catch { case _: java.io.IOException => () }
        try Files.deleteIfExists(src)
        catch { case _: java.io.IOException => () }
      }
    })

  /** commit.seq of a manifest FILE from its HEADER lines only (id=,
    * ts=, schema=, prop= — all precede the first entry line, and props
    * sort by key): O(header bytes), never parses entries. None when the
    * file is unreadable or carries no seq prop (pre-chain manifest). */
  private def seqOfHeader(p: Path): Option[Long] =
    scala.util.Try {
      val br = Files.newBufferedReader(p, StandardCharsets.UTF_8)
      try {
        val prefix = s"prop=$SeqProp\t"
        var line = br.readLine()
        var out: Option[Long] = None
        while (line != null && out.isEmpty &&
            (line.startsWith("id=") || line.startsWith("ts=") ||
              line.startsWith("schema=") || line.startsWith("prop="))) {
          if (line.startsWith(prefix))
            out = line.substring(prefix.length).toLongOption
          line = br.readLine()
        }
        out
      } finally br.close()
    }.toOption.flatten

  /** Test seam: runs after the manifest history file is written but
    * before the chain-slot claim, i.e. exactly inside the window where
    * a cross-host writer can win the race. Production no-op. */
  private[graft] var onBeforePublish: () => Unit = () => ()

  /** Write manifest-<id> to the history dir, fsync it, then PUBLISH by
    * atomically claiming commit chain slot `baseSeq + 1` — a hard link
    * to the fsync'd manifest file, so the claim and the content appear
    * together (`link(2)` fails if the name exists: an atomic
    * test-and-set even across hosts on a shared POSIX filesystem,
    * which a rename cannot express). The MANIFEST pointer then becomes
    * a HINT: renamed after the claim, and allowed to trail the chain
    * by one commit (a crash between claim and rename) — [[current]]
    * repairs by walking the chain forward from the hint. Losing the
    * claim means a writer this host's locks could not see committed
    * first: the manifest file is withdrawn and
    * [[ConcurrentCommitException]] says so, loudly — the silent
    * alternative is the last-writer-wins pointer swap that loses the
    * other writer's commit. */
  private def commitManifest(root: String, m0: Manifest,
      baseSeq: Long): Unit = {
    val seq = baseSeq + 1
    // aged equality deletes auto-prune HERE, the one place every
    // commit passes: once no entry predates a delete, no row can
    // match it (restatement/compaction age entries past it — their
    // fresh entries were read resolved)
    val prunedProps = m0.props.filter { case (k, _) =>
      !(k.startsWith(EqDelPropPrefix) && {
        val eid = k.stripPrefix(EqDelPropPrefix).toLong
        m0.entries.forall(e => birthOf(e) >= eid)
      })
    }
    // the reader era is recomputed on the same pass: era 3 while an
    // equality delete is live, era 2 while a deletion vector is (the
    // two features a blind reader cannot safely ignore — either would
    // resurrect deleted rows), lifted as soon as both fold away
    val eraProps =
      if (prunedProps.keys.exists(_.startsWith(EqDelPropPrefix)))
        prunedProps + (ReaderVersionProp -> "3")
      else if (m0.entries.exists(_.dv.isDefined))
        prunedProps + (ReaderVersionProp -> "2")
      else prunedProps - ReaderVersionProp
    // every commit stamps its wall time — the TIMESTAMP AS OF key
    // ([[manifestAtTime]]); a rollback/restore is a NEW commit in time
    val m = m0.copy(props = eraProps + (SeqProp -> seq.toString),
      ts = Some(System.currentTimeMillis()))
    val rootP = Paths.get(root)
    Files.createDirectories(rootP.resolve("manifests"))
    val bytes = render(m).getBytes(StandardCharsets.UTF_8)
    def fsyncWrite(p: Path): Unit = fsyncWriteBytes(p, bytes)
    val mfile = rootP.resolve(s"manifests/manifest-${m.id}")
    fsyncWrite(mfile)
    onBeforePublish()
    // withdraw the unpublished history file on a lost race.
    // BEST-EFFORT — manifest-<id> is exclusively ours (the id was
    // claimed by allocateId's atomic mkdir), so a failed delete leaves
    // an inert never-committed file: the chain walk can't resolve it,
    // but read(asOf=id) could, and it occupies one retention slot
    // until expire drops it
    def withdraw(): Unit =
      try Files.deleteIfExists(mfile)
      catch { case _: java.io.IOException => () }
    // SEQUENCE NUMBERS ARE NEVER REUSED: a claim at-or-below the hint's
    // seq can only come from a writer whose base read predates commits
    // the hint already names — on a table where expire freed old slot
    // NAMES this claim could otherwise succeed and silently roll the
    // table back below the head (the lost update the chain exists to
    // prevent). Refuse before touching the chain. The hint may trail
    // the true head, so this is conservative — the slot tombstones
    // below catch what the hint cannot see.
    val hintP = rootP.resolve("MANIFEST")
    if (Files.exists(hintP) && seq <= seqOf(parse(hintP))) {
      withdraw()
      throw new ConcurrentCommitException(root, seq,
        "is at or below the published head's sequence — this commit's " +
          "base read is stale (it may predate the retention horizon)")
    }
    // Degrading on a link failure must distinguish "this filesystem
    // has no hard links" (VFAT/exFAT, many NFS/SMB/FUSE mounts — where
    // NIO surfaces EPERM/ENOTSUP as FileSystemException, not
    // UnsupportedOperationException) from a GENUINE error on a
    // link-capable mount (ACL misconfiguration, seccomp blocking
    // link(2), protected_hardlinks). Classifying the real claim's
    // error message is locale-dependent and conflates the two: a
    // silent degrade on a capable filesystem publishes WITHOUT a chain
    // slot — a gap other writers' conflict detection can't see.
    // Instead: (a) if the table already has chain slots, other writers
    // demonstrably link here, so this error is NOT a capability gap —
    // fail loudly; (b) otherwise ask a one-time scratch probe
    // ([[supportsHardLinks]]); only a probe-confirmed no-link
    // filesystem degrades to the locked single-host discipline.
    def degradeOrFail(e: Throwable): Boolean = {
      val capable =
        try supportsHardLinks(root)
        catch { case _: java.io.IOException =>
          // the probe itself could not run — treat as capable
          // (degrading on unknown evidence is the unsafe direction)
          true
        }
      if (hasChainSlots(root)) {
        withdraw()
        // chain slots exist, so SOME filesystem once linked here — but
        // a table relocated wholesale (rsync, backup restore) carries
        // its slots as plain copies onto a mount that may not link.
        // The probe distinguishes the two diagnoses; BOTH refuse to
        // publish (silently degrading an already-chained table would
        // disable the cross-host conflict detection its history
        // promises).
        if (capable)
          throw new java.io.IOException(
            s"hard-link claim of commit-$seq at $root failed " +
              s"(${e.getMessage}) but this filesystem supports hard " +
              "links (probe-confirmed) and the table has chain slots " +
              "— this is a genuine error (permissions, seccomp, " +
              "protected_hardlinks), not a capability gap; refusing " +
              "to degrade to pointer-swap publish (it would disable " +
              "cross-host conflict detection for this commit)", e)
        else
          throw new java.io.IOException(
            s"hard-link claim of commit-$seq at $root failed " +
              s"(${e.getMessage}): the table has chain slots but a " +
              "scratch probe confirms this filesystem CANNOT create " +
              "hard links — it was most likely relocated (rsync / " +
              "backup restore) from a link-capable filesystem, so the " +
              "slots are plain copies. Migrate: move the table back " +
              "to a link-capable mount, or rewrite its current " +
              "content to a fresh root on this mount with " +
              "SnapshotStore.write (which starts a degraded " +
              "single-host table)", e)
      }
      if (capable) { withdraw(); throw e }
      System.err.println(
        s"[snapshot] WARN: filesystem at $root does not support " +
          "hard links (probe-confirmed) — cross-host commit conflict " +
          "detection is OFF; writers on other hosts need external " +
          "coordination")
      false
    }
    val chained =
      try { Files.createLink(chainFile(root, seq), mfile); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          // lost the race — a racing writer's claim, or a zero-length
          // tombstone of an expired slot (a stale base the hint check
          // above could not see)
          withdraw()
          throw new ConcurrentCommitException(root, seq)
        case e: UnsupportedOperationException => degradeOrFail(e)
        case e: java.nio.file.FileSystemException => degradeOrFail(e)
      }
    if (chained) {
      // the chain entry must survive a crash: fsync the manifests dir
      // (best-effort — the claim is already visible to racing writers)
      fsyncDir(rootP.resolve("manifests"),
        s"chain entry commit-$seq at $root")
    }
    val tmp = rootP.resolve(s".MANIFEST.tmp-${m.id}")
    fsyncWrite(tmp)
    // hint publish. When the chain claimed (`chained`), the commit is
    // ALREADY published — a failed rename must not un-publish it
    // (readers repair via the walk), so it degrades to a warning; on a
    // no-hard-link filesystem this rename IS the publish and failures
    // propagate. THE HINT NEVER MOVES BACKWARDS: if a cross-host
    // writer that based on THIS commit already advanced the hint past
    // `seq` (its rename raced ahead of ours), renaming ours over it
    // would point readers at a superseded head — skip instead (the
    // chain walk covers our commit either way). Only applies when
    // chained: on a no-hard-link filesystem the same-host lock
    // serializes publishes, so the skip can never falsely trigger.
    val superseded = chained && Files.exists(hintP) &&
      (try seqOf(parse(hintP)) >= seq
       catch { case _: Exception => false })
    if (superseded) {
      try Files.deleteIfExists(tmp)
      catch { case _: java.io.IOException => () }
    } else {
      try Files.move(tmp, rootP.resolve("MANIFEST"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      catch {
        case e: java.io.IOException if chained => System.err.println(
          s"[snapshot] WARN: MANIFEST hint rename after publishing " +
            s"commit-$seq at $root failed (${e.getMessage}) — readers " +
            "resolve the committed state through the chain walk")
      }
    }
    // the rename itself must be durable before commit returns: the
    // manifest FILE is fsync'd above, but the directory entry that
    // points MANIFEST at it lives in the root dir's metadata — without
    // a directory fsync a power loss after "committed" can roll the
    // pointer back to the prior snapshot (atomicity held, durability
    // did not). POSIX durability of a rename = fsync the parent dir —
    // best-effort (Lucene-style): the commit is already published, so
    // a platform that refuses directory fds must not turn a landed
    // commit into a reported failure.
    fsyncDir(rootP, s"manifest-${m.id} at $root")
  }

  /** Write `bytes` to `p` (create/truncate) and fsync the file. */
  private def fsyncWriteBytes(p: Path, bytes: Array[Byte]): Unit = {
    val ch = java.nio.channels.FileChannel.open(p,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
    finally ch.close()
  }

  /** Best-effort directory fsync. Loud, not silent, on failure: a
    * refused dir fd (non-POSIX filesystem) and a genuine EIO look the
    * same here — the operator deserves the evidence either way, even
    * though an already-published commit must not be failed for it. */
  private def fsyncDir(dir: Path, what: String): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir,
        StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch {
      case e: java.io.IOException =>
        System.err.println(
          s"[snapshot] WARN: directory fsync after publishing $what " +
            s"failed (${e.getMessage}) — the commit is visible but its " +
            "durability depends on the filesystem flushing on its own")
    }

  /** The current committed manifest, if the table exists: the MANIFEST
    * hint, repaired forward along the commit chain. The hint can trail
    * the chain by exactly the commits whose writer crashed (or lost an
    * I/O race) between the chain claim and the hint rename — each walk
    * step is one `Files.exists` probe, so the common case (hint
    * current, probe misses) costs one stat. Chain files are hard links
    * to fully-fsync'd manifests, so a visible chain entry is always a
    * complete, parseable manifest. */
  def current(root: String): Option[Manifest] = {
    val p = Paths.get(root, "MANIFEST")
    def resolveOnce(): Option[Manifest] = {
      val hint = if (Files.exists(p)) Some(parse(p)) else None
      // probe forward to the dense chain head, then parse exactly one
      // file — intermediate slots are never materialized (a 5k-entry
      // manifest is ~MB-scale; k trailing commits must not cost k
      // parses)
      var seq = hint.map(seqOf).getOrElse(0L)
      var head: Option[Path] = None
      while (Files.exists(chainFile(root, seq + 1))) {
        seq += 1
        val f = chainFile(root, seq)
        // expired slots persist as zero-length TOMBSTONES (their names
        // must stay claimed so a stale-based writer can never reuse
        // the sequence number) — the walk steps over them and parses
        // the newest slot that still has content
        if ((try Files.size(f) catch {
          case _: java.io.IOException => 0L
        }) > 0L) head = Some(f)
      }
      head.map(parse).orElse(hint)
    }
    // a racing expire can tombstone (truncate) a probed slot between
    // the size check and the parse — the parse then sees an empty
    // file (readers take no lock — by design). Expire repairs the
    // hint to the live head BEFORE tombstoning, so a fresh resolve
    // converges; retry rather than crash the lock-free reader.
    var attempts = 0
    while (true) {
      try return resolveOnce()
      catch {
        case e @ (_: java.nio.file.NoSuchFileException |
                  _: NoSuchElementException) =>
          attempts += 1
          if (attempts >= 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A retained historical manifest (time travel). */
  def manifestAt(root: String, id: Long): Manifest =
    parse(Paths.get(root, s"manifests/manifest-$id"))

  /** The manifest published at chain sequence `seq` — the streaming
    * tail's addressing scheme (each commit = one chain slot). Seq 0 is
    * the empty pre-table state. Throws loudly when the slot was
    * tombstoned by [[expire]] (the consumer fell behind the retention
    * horizon — Kafka's data-loss condition) or never existed. */
  def manifestAtSeq(root: String, seq: Long): Manifest = {
    if (seq == 0L) return Manifest(0L, Seq.empty)
    val f = chainFile(root, seq)
    if (!Files.exists(f))
      throw new IllegalStateException(
        s"no commit at chain seq $seq under $root — the table has no " +
          "such chain slot (ahead of the head; a pre-chain legacy " +
          "table; or a table committed on a no-hard-link filesystem " +
          "in the degraded single-host mode, which records sequences " +
          "but cannot publish chain slots — such tables cannot be " +
          "tailed as a stream)")
    if (Files.size(f) == 0L)
      throw new IllegalStateException(
        s"commit $seq at $root was expired: the consumer fell behind " +
          "the retention horizon (raise expire's keepLast or restart " +
          "the stream from the current state)")
    parse(f)
  }

  /** Current chain head sequence (0 for an empty/nonexistent table) —
    * one hint parse + forward probes, no manifest listing. */
  def currentSeq(root: String): Long =
    current(root).map(seqOf).getOrElse(0L)

  /** `TIMESTAMP AS OF` resolution: the LATEST retained commit whose
    * stamped wall time is ≤ `tsMillis` — how a human asks for history
    * ("the table as of yesterday 09:00"). Walks the retained chain
    * (cost bounded by retention, never table size). Fails loudly when
    * `tsMillis` predates the earliest retained commit (expired past
    * the horizon, or before the table existed) and when the only
    * commits at-or-before it predate timestamp stamping (those resolve
    * by id/tag only — guessing would silently pick a wrong snapshot).
    * Commit times come from the WRITER's clock: on a multi-host table,
    * skew between writers can reorder ts against the commit chain; the
    * chain order wins (resolution scans in seq order and takes the
    * last ts-qualified slot). */
  def manifestAtTime(root: String, tsMillis: Long): Manifest =
    bestSeqAtTime(root, tsMillis) match {
      case BestSeq(Some(s), _, _) => manifestAtSeq(root, s)
      case BestSeq(None, true, _) =>
        throw new IllegalStateException(
          s"TIMESTAMP AS OF $tsMillis at $root: the commits at or " +
            "before that time predate commit-timestamp stamping — " +
            "address them with VERSION AS OF <id|tag> instead")
      case _ =>
        throw new IllegalStateException(
          s"TIMESTAMP AS OF $tsMillis at $root: no retained commit at " +
            "or before that time (before the table existed, or expired " +
            "past the retention horizon)")
    }

  /** Feed/stream BOUND resolution by wall time: the chain seq of the
    * latest retained commit stamped ≤ `tsMillis` — so a change feed
    * FROM this bound emits commits strictly after the instant,
    * composing exactly with [[manifestAtTime]]'s state. Resolves 0
    * ("everything") ONLY when the instant PROVABLY predates the table
    * — the chain is retained from seq 1 and its first stamp is later.
    * An instant that falls inside the EXPIRED range fails loudly:
    * resolving it to 0 would silently re-deliver the whole table to a
    * consumer that already saw most of it. */
  def seqAtTimeOrBefore(root: String, tsMillis: Long): Long =
    bestSeqAtTime(root, tsMillis) match {
      case BestSeq(Some(s), _, _) => s
      case BestSeq(None, sawUnstamped, seqs)
          if seqs.headOption.contains(1L) && !sawUnstamped =>
        0L // full chain retained; the instant predates the first commit
      case BestSeq(None, sawUnstamped, _) =>
        throw new IllegalStateException(
          s"timestamp bound $tsMillis at $root cannot resolve: " +
            (if (sawUnstamped)
               "commits at or before it predate timestamp stamping — " +
                 "use a seq bound instead"
             else
               "the commits at or before it were expired past the " +
                 "retention horizon — restart from the current state " +
                 "or a retained seq bound"))
    }

  private final case class BestSeq(seq: Option[Long],
      sawUnstamped: Boolean, retained: Seq[Long])

  /** Shared ts-resolution core: walks the retained chain reading ONLY
    * the ts= header line of each slot (O(header bytes) per commit,
    * like [[seqOfHeader]] — never a full entry/schema parse), in seq
    * order so writer clock skew resolves by CHAIN order. Read failures
    * propagate: silently skipping a transiently unreadable slot would
    * resolve to an OLDER commit and serve a wrong snapshot. */
  private def bestSeqAtTime(root: String, tsMillis: Long): BestSeq = {
    val seqs = retainedSeqs(root)
    if (seqs.isEmpty)
      throw new IllegalStateException(
        s"no retained commit chain at $root to time-travel in")
    var best: Option[Long] = None
    var sawUnstamped = false
    seqs.foreach { s =>
      tsOfHeader(chainFile(root, s)) match {
        case Some(t) if t <= tsMillis => best = Some(s)
        case Some(_) => ()
        case None => sawUnstamped = true
      }
    }
    BestSeq(best, sawUnstamped, seqs)
  }

  /** The ts= header of a manifest file, header-walk only (the ts line
    * precedes schema/props/entries). None = pre-stamping manifest.
    * IO errors propagate — see [[bestSeqAtTime]]. */
  private def tsOfHeader(p: Path): Option[Long] = {
    val br = Files.newBufferedReader(p, StandardCharsets.UTF_8)
    try {
      var line = br.readLine()
      var out: Option[Long] = None
      while (line != null && out.isEmpty &&
          (line.startsWith("id=") || line.startsWith("ts="))) {
        if (line.startsWith("ts=")) out = line.stripPrefix("ts=").toLongOption
        line = br.readLine()
      }
      out
    } finally br.close()
  }

  /** One retained commit, as table history reports it: chain seq,
    * manifest id, partition-entry count, the total row count when
    * every entry carries write-time stats, and the commit wall time
    * (None on pre-stamping manifests) — the instants `TIMESTAMP AS OF`
    * can address. */
  final case class HistoryEntry(seq: Long, id: Long, entries: Int,
      rows: Option[Long], ts: Option[Long] = None)

  /** Sequences of the retained (non-tombstoned) COMMIT CHAIN slots,
    * ascending — read from the slot names alone, no file contents.
    * The chain is the source of truth for "what committed": the
    * manifests/ listing also holds inert never-committed files (a
    * crash between the history write and the slot claim, or a failed
    * lost-race withdraw), which must not surface as commits. */
  def retainedSeqs(root: String): Seq[Long] = {
    val dir = Paths.get(root, "manifests")
    if (!Files.exists(dir)) return Seq.empty
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("commit-") &&
            (try Files.size(p) > 0L
             catch { case _: java.io.IOException => false }))
          n.stripPrefix("commit-").toLongOption.foreach(buf += _)
      }
      buf.toSeq.sorted
    } finally s.close()
  }

  /** The RETAINED commit history, commit order ascending — the
    * DESCRIBE HISTORY analogue (SQL entry:
    * `CALL <catalog>.system.history('t')`). Walks the retained COMMIT
    * CHAIN slots (never the raw manifests listing — see
    * [[retainedSeqs]]) and parses each once; cost is bounded by the
    * retention policy, never by table size. Commits expired past the
    * horizon are simply absent, exactly like time travel. An
    * entries-empty commit (a DELETE that drained the table) reports
    * rows = Some(0) — exactly known, not unknown.
    *
    * Tables with NO chain slots at all — committed in the degraded
    * no-hard-link mode, or pre-chain legacy manifests — would report
    * an empty history for a table that plainly exists; for those the
    * raw manifests listing (seq order) is returned instead,
    * BEST-EFFORT: without a chain, a crash-orphaned never-committed
    * manifest is indistinguishable from a commit (distinguishing them
    * is exactly the capability the chain adds). The fallback never
    * fires on a chained table: a dense chain has a slot for every
    * retained commit. */
  def history(root: String): Seq[HistoryEntry] = {
    def entryOf(seq: Long, m: Manifest): HistoryEntry = {
      // LIVE rows: write-time stats minus deletion-vector positions.
      // LIVE EQUALITY DELETES make the count unknowable without a
      // read (how many older rows a key displaces is data-dependent)
      // — report nothing rather than an overcount.
      val live = m.entries.map(liveRows)
      HistoryEntry(seq, m.id, m.entries.size,
        if (m.entries.isEmpty) Some(0L)
        else if (eqDeletesOf(m).nonEmpty) None
        else if (live.forall(_.isDefined)) Some(live.flatten.sum)
        else None,
        m.ts)
    }
    val viaChain = retainedSeqs(root).flatMap { seq =>
      scala.util.Try(manifestAtSeq(root, seq)).toOption
        .map(m => entryOf(seq, m))
    }
    if (viaChain.nonEmpty) viaChain
    else retainedIds(root).flatMap { id =>
      scala.util.Try(
        parse(Paths.get(root, s"manifests/manifest-$id"))).toOption
        .map(m => entryOf(seqOf(m), m))
    }.sortBy(_.seq)
  }

  // ---- entry statistics ----------------------------------------------------

  /** Stats are captured for at most this many columns (schema order) —
    * the Iceberg-style cap that keeps manifest size O(entries), not
    * O(entries × arbitrary schema width). */
  private[graft] val StatsColCap = 32

  /** String min/max longer than this are dropped (that column simply
    * has no stats for the entry): truncating would need upper-bound
    * semantics (Iceberg's increment-last-char trick) to stay safe for
    * max-pruning, and long free-text columns aren't useful prune keys. */
  private val StatsMaxStringLen = 256

  private[graft] def supportedStatType(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Canonical string form of a collected min/max value. Timestamps go
    * through ISO-8601 (instant for TZ timestamps, local for NTZ) so the
    * string survives session-timezone changes between write and read. */
  private[graft] def statString(v: Any): String = v match {
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant => i.toString
    case d: java.time.LocalDateTime => d.toString
    case x => x.toString // numerics, dates (yyyy-MM-dd), strings, booleans
  }

  /** Total order on canonical stat strings under the column's type —
    * the driver-side mirror of Spark's own ordering for every
    * [[supportedStatType]]. NaN sorts greatest (java.lang.Double
    * semantics = Spark semantics). Strings compare as UNSIGNED UTF-8
    * BYTES: Spark's min/max run on UTF8String's binary order
    * (code-point order), and Java's String.compareTo (UTF-16 code
    * units) disagrees with it for [U+E000, U+FFFF] vs supplementary
    * characters — a pruning comparator on the wrong order would skip a
    * partition that holds a matching key. */
  private[graft] def statCompare(dt: org.apache.spark.sql.types.DataType,
      a: String, b: String): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        java.lang.Long.compare(a.toLong, b.toLong)
      case FloatType | DoubleType =>
        java.lang.Double.compare(a.toDouble, b.toDouble)
      case _: DecimalType => BigDecimal(a).compare(BigDecimal(b))
      case StringType =>
        java.util.Arrays.compareUnsigned(
          a.getBytes(StandardCharsets.UTF_8),
          b.getBytes(StandardCharsets.UTF_8))
      case DateType => a.compareTo(b) // ISO dates compare lexically
      case TimestampType =>
        java.time.Instant.parse(a).compareTo(java.time.Instant.parse(b))
      case TimestampNTZType =>
        java.time.LocalDateTime.parse(a)
          .compareTo(java.time.LocalDateTime.parse(b))
      case BooleanType =>
        java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
      case other =>
        throw new IllegalArgumentException(s"no stat ordering for $other")
    }
  }

  /** AGGREGATE-computed per-partition stats: one map-side-combinable
    * aggregate re-reading the just-written snap dir. Superseded on the
    * commit path by [[harvestStats]] (parquet footers already hold
    * these values — harvesting them is metadata-only, ∝ file COUNT
    * instead of data size); kept as the independent ground truth the
    * footer harvest is spec-checked against
    * ([[graft.etl.SnapshotStatsSpec]] asserts both agree on every
    * fixture), and as the reference semantics for what a stat means.
    * The read uses an EXPLICIT schema with `__part` as string, so the
    * partition token is never type-inferred — `EntryStats` keys match
    * `Entry.value` exactly, leading zeros and all. */
  private[graft] def collectStats(spark: SparkSession, dataDir: String,
      dataSchema: org.apache.spark.sql.types.StructType)
      : Map[String, EntryStats] = {
    import org.apache.spark.sql.types._
    val statCols = dataSchema.fields
      .filter(f => supportedStatType(f.dataType)).take(StatsColCap)
    val readSchema = StructType(
      dataSchema.fields.filterNot(_.name == PartKey) :+
        StructField(PartKey, StringType))
    // backtick-quote: a column name containing a dot would otherwise
    // parse as nested-field access and fail the commit of a table that
    // committed fine before stats capture existed
    def q(n: String) = s"`${n.replace("`", "``")}`"
    val aggs = statCols.flatMap(f => Seq(
      min(col(q(f.name))).as(s"__mn_${f.name}"),
      max(col(q(f.name))).as(s"__mx_${f.name}")))
    val rows = spark.read.schema(readSchema).parquet(dataDir)
      .groupBy(col(PartKey))
      .agg(count(lit(1L)).as("__rows"), aggs.toIndexedSeq: _*)
      .collect()
    rows.map { r =>
      val cols = statCols.flatMap { f =>
        val mn = r.get(r.fieldIndex(s"__mn_${f.name}"))
        val mx = r.get(r.fieldIndex(s"__mx_${f.name}"))
        if (mn == null || mx == null) None // all-null column: no stats
        else {
          val (a, b) = (statString(mn), statString(mx))
          if (f.dataType == StringType &&
              (a.length > StatsMaxStringLen || b.length > StatsMaxStringLen))
            None
          else Some(f.name -> ColStats(a, b))
        }
      }.toMap
      r.getString(r.fieldIndex(PartKey)) ->
        EntryStats(r.getLong(r.fieldIndex("__rows")), cols)
    }.toMap
  }

  /** FOOTER-harvested per-partition stats — the metadata-only capture
    * on the commit path: the parquet footers of the just-written files
    * already record per-chunk row counts and column min/max, so the
    * commit reads a few KB of footer per file instead of re-scanning
    * the data ([[collectStats]]' honest but ∝-commit-size aggregate).
    * At 100 TB this turns stats capture from a second read of the
    * commit into a driver-side loop over file COUNT.
    *
    * Semantics are pinned to the aggregate's (and spec-checked equal,
    * [[graft.etl.SnapshotStatsSpec]]): same canonical strings
    * ([[statString]]), compatible orderings — parquet's UTF8 chunk
    * stats use the unsigned-byte-wise comparator, exactly
    * UTF8String's; numerics are signed; MICROS timestamps map to the
    * same ISO-8601 instants — same 256-char string cap, and an
    * all-null column carries no stats. A column whose stats any chunk
    * OMITS (INT96 writes none; parquet-mr drops >4 KB binary stats)
    * or POISONS (float/double NaN propagates through parquet-mr's
    * min/max fold) is dropped for the whole entry: consumers treat a
    * stats-less column conservatively, so a drop can only cost
    * pruning, never correctness. */
  /** `fileStatCols` (physical names): columns to ALSO harvest at
    * per-FILE grain ([[FileStats]] — in practice the table sort
    * column, passed by every commit path). Same fold semantics as the
    * entry grain, same free cost: the footers are already open. */
  private[graft] def harvestStats(spark: SparkSession, dataDir: String,
      dataSchema: org.apache.spark.sql.types.StructType,
      fileStatCols: Set[String] = Set.empty)
      : Map[String, EntryStats] = {
    import org.apache.spark.sql.types._
    val statCols = dataSchema.fields
      .filter(f => f.name != PartKey && supportedStatType(f.dataType))
      .take(StatsColCap)
    val fileCols = statCols.filter(f => fileStatCols(f.name))
    val types = statCols.map(f => f.name -> f.dataType).toMap
    val conf = spark.sessionState.newHadoopConf()

    def conv(dt: DataType, v: Any): String = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        v.asInstanceOf[Number].longValue.toString
      case FloatType => v.asInstanceOf[java.lang.Float].toString
      case DoubleType => v.asInstanceOf[java.lang.Double].toString
      case StringType =>
        v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
      case DateType => java.time.LocalDate
        .ofEpochDay(v.asInstanceOf[Number].longValue).toString
      case TimestampType =>
        val us = v.asInstanceOf[java.lang.Long].longValue
        java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L).toString
      case TimestampNTZType =>
        val us = v.asInstanceOf[java.lang.Long].longValue
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC).toString
      case BooleanType => v.asInstanceOf[java.lang.Boolean].toString
      case d: DecimalType =>
        val unscaled = v match {
          case b: org.apache.parquet.io.api.Binary =>
            new java.math.BigInteger(b.getBytes)
          case n: Number => java.math.BigInteger.valueOf(n.longValue)
        }
        new java.math.BigDecimal(unscaled, d.scale).toString
      case other =>
        throw new IllegalArgumentException(s"no stat harvest for $other")
    }
    def poisoned(dt: DataType, s: String): Boolean = dt match {
      case FloatType | DoubleType => s == "NaN" || s == "-NaN"
      case _ => false
    }

    listParts(dataDir).map { tok =>
      val dirF = new java.io.File(s"$dataDir/$PartKey=$tok")
      val files = Option(dirF.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      var rows = 0L
      // fold state per column: None until a non-null chunk
      // contributes; REMOVED once any chunk makes the column unknown
      type Acc = scala.collection.mutable.LinkedHashMap[String,
        Option[(String, String)]]
      def freshAcc(fields: Seq[org.apache.spark.sql.types.StructField])
          : Acc = scala.collection.mutable.LinkedHashMap(
        fields.map(f => f.name -> (None: Option[(String, String)])): _*)
      def foldBlock(acc: Acc,
          byName: java.util.HashMap[String,
            org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
          : Unit =
        acc.keys.toSeq.foreach { name =>
          val chunk = byName.get(name)
          val st = if (chunk == null) null else chunk.getStatistics
          if (st == null) acc.remove(name) // no stats recorded
          else if (st.hasNonNullValue) {
            try {
              val mn = conv(types(name), st.genericGetMin)
              val mx = conv(types(name), st.genericGetMax)
              if (poisoned(types(name), mn) || poisoned(types(name), mx))
                acc.remove(name)
              else acc(name) match {
                case Some((m0, x0)) =>
                  val dt = types(name)
                  acc(name) = Some((
                    if (statCompare(dt, mn, m0) < 0) mn else m0,
                    if (statCompare(dt, mx, x0) > 0) mx else x0))
                case None => acc(name) = Some((mn, mx))
              }
            } catch { case _: Exception => acc.remove(name) }
          } else if (!(st.isNumNullsSet &&
              st.getNumNulls == chunk.getValueCount)) {
            acc.remove(name) // stats present but unusable: unknown
          } // else: all-null chunk, contributes nothing
        }
      def collectCols(acc: Acc): Map[String, ColStats] =
        acc.toSeq.collect {
          case (n, Some((mn, mx)))
              if !(types(n) == StringType &&
                (mn.length > StatsMaxStringLen ||
                 mx.length > StatsMaxStringLen)) =>
            n -> ColStats(mn, mx)
        }.toMap
      val acc = freshAcc(statCols.toSeq)
      val perFile = scala.collection.mutable.ArrayBuffer[FileStats]()
      files.foreach { file =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getPath), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        var frows = 0L
        val facc = freshAcc(fileCols.toSeq)
        try {
          reader.getFooter.getBlocks.forEach { block =>
            rows += block.getRowCount
            frows += block.getRowCount
            val byName = new java.util.HashMap[String,
              org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]()
            block.getColumns.forEach(c => byName.put(c.getPath.toDotString, c))
            foldBlock(acc, byName)
            if (fileCols.nonEmpty) foldBlock(facc, byName)
          }
        } finally reader.close()
        if (fileCols.nonEmpty)
          perFile += FileStats(file.getName, frows, collectCols(facc))
      }
      unescapeDirToken(tok) ->
        EntryStats(rows, collectCols(acc), perFile.toSeq)
    }.toMap
  }

  // ---- column ids + physical-name mapping (RENAME COLUMN) -----------------

  /** STABLE FIELD ID, stamped into `StructField.metadata` — the
    * Iceberg-style identity that survives renames (an extension: the
    * reference's ClickHouse supports `ALTER TABLE … RENAME COLUMN` as
    * standard DDL). Assigned at CREATE TABLE and adopted by legacy
    * tables on their first RENAME. */
  private[graft] val FieldIdKey = "graft.field.id"

  /** The column's PHYSICAL name — what the parquet files actually
    * carry. INVARIANT for the field's lifetime across renames (a
    * rename rewrites only the manifest's logical name), reset to the
    * logical name by a full rewrite (every file is fresh then). Data
    * files and CDC sidecars are ALWAYS written under physical names,
    * so one `spark.read.schema(physical)` plans every dir of every
    * era — no per-file name mapping, no field-id reconciliation at
    * read time. */
  private[graft] val PhysKey = "graft.field.phys"

  private[graft] def physName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey)
    else f.name

  /** Any rename mapping — TOP-LEVEL or NESTED (a struct subfield whose
    * physical spelling differs, from a nested RENAME or a re-ADD of a
    * dropped nested name)? Reads then plan under the physical schema
    * and LOGICALIZE back ([[logicalCol]] — nested mappings rebuild the
    * struct). */
  private[graft] def hasMapping(
      s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => physName(f) != f.name ||
      dtHasMapping(f.dataType))

  /** NESTED mapping only (top-level mappings translate cheaply in the
    * DSV2 scan builder; nested ones route reads through the analysis
    * rewrite, like deletion vectors). */
  private[graft] def hasNestedMapping(
      s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => dtHasMapping(f.dataType))

  private def dtHasMapping(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.exists(f => physName(f) != f.name ||
        dtHasMapping(f.dataType))
    case _ => false
  }

  /** logical → physical, only the non-identity pairs. */
  private[graft] def physMapOf(s: org.apache.spark.sql.types.StructType)
      : Map[String, String] =
    s.fields.iterator.map(f => f.name -> physName(f))
      .filter { case (lo, ph) => lo != ph }.toMap

  /** The schema as the parquet FILES spell it — physical names at
    * EVERY struct level (a no-op for fields without a mapping). */
  private[graft] def physicalSchema(
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields.map(f =>
        f.copy(name = physName(f), dataType = physicalDt(f.dataType))))

  private def physicalDt(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType => physicalSchema(st)
    case other => other
  }

  /** Reconstruct field `f`'s LOGICAL value from the physical column
    * expression `path`: structs carrying a nested mapping REBUILD
    * (each subfield read under its physical spelling, emitted under
    * its logical name — null structs stay null); everything else
    * passes through. The read-side twin of [[physCol]]. */
  private def logicalCol(f: org.apache.spark.sql.types.StructField,
      path: Column): Column = f.dataType match {
    case st: org.apache.spark.sql.types.StructType
        if dtHasMapping(f.dataType) ||
          st.fields.exists(sf => physName(sf) != sf.name) =>
      val rebuilt = struct(st.fields.toIndexedSeq.map(sf =>
        logicalCol(sf, path.getField(physName(sf))).as(sf.name)): _*)
      // the outer CAST imposes the LOGICAL struct shape — field names
      // and the id/phys metadata stamps — in its deep-NULLABLE form
      // (file sources cannot promise NOT NULL, and the rebuilt
      // subfields are nullable getFields; commit boundaries compare
      // types STRUCTURALLY, so the relaxation is invisible to them)
      when(path.isNull, lit(null)).otherwise(rebuilt)
        .cast(nullableDt(f.dataType))
    case _ => path
  }

  private def nullableDt(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        f.copy(dataType = nullableDt(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = nullableDt(at.elementType),
        containsNull = true)
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(valueType = nullableDt(mt.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** The logicalizing projection of a physical-schema read: one
    * expression per table column (the pushdown-transparent alias for
    * unmapped fields; a struct rebuild where a nested mapping
    * demands it). */
  private def logicalProjection(
      s: org.apache.spark.sql.types.StructType): Seq[Column] =
    s.fields.toIndexedSeq.map(f =>
      logicalCol(f, col(quoted(physName(f)))).as(f.name))

  /** Respell a LOGICAL-named frame into PHYSICAL names at every level
    * — the write-side twin of [[logicalProjection]]: top-level renames
    * stay cheap `withColumnRenamed`s; struct columns with nested
    * mappings rebuild under their physical subfield spellings. `df`
    * must carry (a subset of) `schema`'s columns by logical name. */
  private def physicalizeFrame(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    def physCol(dt: org.apache.spark.sql.types.DataType,
        path: Column): Column = dt match {
      case st: org.apache.spark.sql.types.StructType
          if dtHasMapping(st) ||
            st.fields.exists(sf => physName(sf) != sf.name) =>
        val rebuilt = struct(st.fields.toIndexedSeq.map(sf =>
          physCol(sf.dataType, path.getField(sf.name))
            .as(physName(sf))): _*)
        when(path.isNull, lit(null).cast(physicalDt(st))).otherwise(rebuilt)
      case _ => path
    }
    val present = df.columns.toSet
    schema.fields.filter(f => present(f.name)).foldLeft(df) { (d, f) =>
      val d2 =
        if (dtHasMapping(f.dataType))
          d.withColumn(f.name, physCol(f.dataType, col(quoted(f.name))))
        else d
      if (physName(f) != f.name) d2.withColumnRenamed(f.name, physName(f))
      else d2
    }
  }

  private def quoted(n: String): String = s"`${n.replace("`", "``")}`"

  /** Stamp ids + physical names on every field that lacks them —
    * RECURSIVELY through struct subfields (nested DDL needs nested
    * identity too); id = running max across all levels + 1, schema
    * order; phys = the current name (sound for adoption because every
    * file written so far used exactly the current names). Fields
    * already stamped keep their metadata. */
  private[graft] def stampIds(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    def maxId(st: StructType): Long = st.fields.iterator.map { f =>
      val own = if (f.metadata.contains(FieldIdKey))
        f.metadata.getLong(FieldIdKey) else 0L
      val sub = f.dataType match {
        case n: StructType => maxId(n)
        case _ => 0L
      }
      math.max(own, sub)
    }.foldLeft(0L)(math.max)
    var next = maxId(s) + 1
    def stamp(st: StructType): StructType = StructType(st.fields.map { f =>
      val dt2 = f.dataType match {
        case n: StructType => stamp(n)
        case other => other
      }
      if (f.metadata.contains(FieldIdKey) &&
          f.metadata.contains(PhysKey)) f.copy(dataType = dt2)
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        if (!f.metadata.contains(FieldIdKey)) {
          mb.putLong(FieldIdKey, next); next += 1
        }
        if (!f.metadata.contains(PhysKey)) mb.putString(PhysKey, f.name)
        f.copy(dataType = dt2, metadata = mb.build())
      }
    })
    stamp(s)
  }

  /** Full-rewrite schema: carry each same-named prior field's STABLE
    * ID AND its PHYSICAL name. The physical name is frozen for the
    * field's LIFETIME — even a full rewrite keeps writing it (the
    * Delta column-mapping discipline): collapsing phys back to the
    * logical name would strand every RETAINED pre-rewrite data dir and
    * CDC sidecar (still spelling the old physical name) behind a
    * mapping-free schema, and a change feed or time-travel-adjacent
    * read spanning the rewrite would silently null the renamed column.
    * Fields the rewrite drops release nothing until their manifests
    * expire; fields new in `next` get phys = name implicitly. */
  private def carryIdsReset(
      prior: Option[org.apache.spark.sql.types.StructType],
      next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = prior match {
    case None => next
    case Some(p) =>
      import org.apache.spark.sql.types.StructType
      // recurse into same-named STRUCT fields: nested ids/phys carry
      // too (a read's struct-rebuild projection strips nested
      // metadata, so a compaction of a nested-renamed table must
      // restore the frozen nested spellings from the prior schema —
      // retained sidecars/dirs still spell them)
      def carry(pst: StructType, nst: StructType): StructType = {
        val byName = pst.fields.map(f => f.name -> f).toMap
        StructType(nst.fields.map { f =>
          byName.get(f.name) match {
            case Some(pf) =>
              val dt2 = (pf.dataType, f.dataType) match {
                case (ps: StructType, ns: StructType) => carry(ps, ns)
                case _ => f.dataType
              }
              if (pf.metadata.contains(FieldIdKey)) {
                val mb = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putLong(FieldIdKey, pf.metadata.getLong(FieldIdKey))
                  .putString(PhysKey, physName(pf))
                f.copy(dataType = dt2, metadata = mb.build())
              } else f.copy(dataType = dt2)
            case None => f
          }
        })
      }
      carry(p, next)
  }

  /** Durable registry of RETIRED fields — `(id, physical name)` pairs
    * of every column a [[dropColumns]] commit removed: the files (and
    * CDC sidecars) of retained entries still SPELL the physical column
    * forever, so a later same-named ADD must take a FRESH id and a
    * non-colliding physical spelling or the old values would resurrect
    * under the new column (zombie data). Cleared only by a full
    * rewrite ([[write]]), which re-owns every spelling (the current
    * entry list then references no pre-drop file). Encoded as compact
    * JSON `[{"id":N,"phys":"x"},…]` in the manifest props. */
  private[graft] val RetiredKey = "graft.fields.retired"

  private[graft] def retiredFields(props: Map[String, String])
      : Seq[(Long, String)] =
    props.get(RetiredKey).map { j =>
      import org.json4s._
      jackson.JsonMethods.parse(j) match {
        case JArray(items) => items.map { it =>
          val id = (it \ "id") match {
            case JInt(n) => n.toLong
            case JLong(n) => n
            case other => sys.error(s"bad retired id: $other")
          }
          val ph = (it \ "phys") match {
            case JString(s) => s
            case other => sys.error(s"bad retired phys: $other")
          }
          (id, ph)
        }
        case other => sys.error(s"bad retired fields: $other")
      }
    }.getOrElse(Seq.empty)

  private def renderRetired(retired: Seq[(Long, String)]): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        retired.map { case (id, ph) =>
          ("id" -> id) ~ ("phys" -> ph) }))
  }

  /** Stamp id + physical name on `merged` fields that are NEW relative
    * to the prior schema (an evolving backfill/append or ALTER ADD):
    * ids start above every live AND retired id, and a new field whose
    * name is a RETIRED physical spelling gets a suffixed physical name
    * — retained pre-drop files spell the old column, so reusing the
    * spelling would resurrect dropped values into the new column. */
  private def stampNewFields(props: Map[String, String],
      prior: Option[org.apache.spark.sql.types.StructType],
      merged: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val priorNames = prior.map(_.fieldNames.toSet).getOrElse(Set.empty)
    if (merged.fields.forall(f => priorNames(f.name))) return merged
    val retired = retiredFields(props)
    var next = (merged.fields.iterator
      .filter(_.metadata.contains(FieldIdKey))
      .map(_.metadata.getLong(FieldIdKey)) ++
      retired.iterator.map(_._1)).foldLeft(0L)(math.max) + 1
    val taken = scala.collection.mutable.Set[String]()
    merged.fields.filter(f => priorNames(f.name))
      .foreach(f => taken += physName(f).toLowerCase)
    retired.foreach { case (_, p) => taken += p.toLowerCase }
    org.apache.spark.sql.types.StructType(merged.fields.map { f =>
      if (priorNames(f.name)) f
      else {
        val id = next; next += 1
        var phys = f.name
        var k = id
        while (taken(phys.toLowerCase)) { phys = s"${f.name}_r$k"; k += 1 }
        taken += phys.toLowerCase
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(FieldIdKey, id).putString(PhysKey, phys).build())
      }
    })
  }

  /** The schema/spec evolutions' shared preamble: the head manifest and
    * its schema, each refused loudly when missing. */
  private def headWithSchema(root: String, verb: String, before: String)
      : (Manifest, org.apache.spark.sql.types.StructType) = {
    val prior = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root to $verb"))
    val schema = prior.schema.getOrElse(
      throw new IllegalStateException(
        s"table at $root predates schema-carrying manifests — " +
          s"recommit with a full write before $before"))
    (prior, schema)
  }

  /** `ALTER TABLE … DROP COLUMN` — a METADATA-ONLY commit in the
    * column-ID model, the mirror of [[renameColumns]]: the field
    * leaves the manifest schema (reads stop projecting it in O(1) at
    * any table size), every data file keeps its physical column
    * untouched, and time travel to a pre-drop manifest still sees it.
    * The dropped field's `(id, phys)` is recorded as RETIRED so a
    * later same-named ADD takes a fresh id and physical spelling —
    * no zombie resurrection from retained files. Partition-spec
    * source columns and the sort column are load-bearing layout and
    * refuse (rewrite the table with a new layout instead). Cost: one
    * ~KB manifest write at any table size. */
  def dropColumns(root: String, names: Seq[String]): Long =
    withCommitLock(root) {
      val (prior, schema0) = headWithSchema(root, "alter", "dropping columns")
      // adopt ids/physical names first (legacy tables): the retired
      // registry needs both
      val schema = stampIds(schema0)
      require(names.nonEmpty, "DROP COLUMN: nothing to drop")
      val resolved = names.map { n =>
        schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"DROP COLUMN $n: no such column — schema has " +
              schema.fieldNames.mkString(", ")))
      }
      val dropSet = resolved.map(_.name).toSet
      require(dropSet.size == resolved.size,
        "DROP COLUMN: a column is dropped twice in one statement")
      require(dropSet.size < schema.fields.length,
        "DROP COLUMN: cannot drop every column of the table")
      // EVERY spec in play, not just the current one: a column that
      // evolution moved out of the current layout still keys the
      // stamped outgoing-vintage entries' tokens — dropping it would
      // wedge spec-aware DML discovery on those entries
      locally {
        val specCols = specsInPlay(prior)
          .flatMap(p => parseSpec(p).sourceCols).toSet
        val sortColOpt = tableLayout(prior).map(_._2)
        resolved.foreach { f =>
          require(!specCols.contains(f.name),
            s"DROP COLUMN ${f.name}: it is a partition-spec source " +
              "column (of the current layout or an outgoing vintage " +
              "still stamped on entries) — every entry dir is keyed " +
              "by it; rewrite the table with a new layout instead")
          require(!sortColOpt.contains(f.name),
            s"DROP COLUMN ${f.name}: it is the table's sort column — " +
              "rewrite the table with a new layout instead")
        }
        // a LIVE equality delete keys on its columns at every read —
        // dropping one would wedge the table (applyEqDeletes could no
        // longer resolve the key, and even the fold path reads
        // through it); fold first, then drop
        val eqPhys = eqDeletesOf(prior).flatMap(_.cols).toSet
        resolved.foreach { f =>
          require(!eqPhys.contains(physName(f)),
            s"DROP COLUMN ${f.name}: it is a key column of a live " +
              "equality delete — fold the deletes first " +
              "(SnapshotStore.rewriteDataFiles or compact), then drop")
        }
      }
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(f => dropSet(f.name)))
      val retired = retiredFields(prior.props) ++ resolved.map(f =>
        (f.metadata.getLong(FieldIdKey), physName(f)))
      // stats re-key: dropped columns leave the per-entry min/max maps
      // (a stale key could only have disabled pruning, but exactness
      // is cheap here)
      val entries = prior.entries.map { e =>
        e.copy(stats = e.stats.map(mapStatsCols(_, _ -- dropSet)))
      }
      val id = allocateId(root)
      commitManifest(root, Manifest(id, entries, Some(newSchema),
        prior.props + (RetiredKey -> renderRetired(retired))),
        seqOf(prior))
      id
    }

  /** Read-compatible type widenings: the promotions Spark 4's parquet
    * readers apply at scan time when the declared schema is wider than
    * the file column, so a widened table needs NO rewrite — old files
    * up-cast as they are read. */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE <wider>` — type WIDENING as a
    * METADATA-ONLY commit (the Delta/Iceberg-V3 type-widening shape):
    * the manifest schema's field moves up the promotion lattice
    * (byte→short→int→long, float→double), old files stay as written
    * and up-cast at scan time (Spark 4 parquet readers promote
    * int32→int64 and float→double natively), new writes land wide,
    * and time travel before the widen keeps the narrow shape.
    * Anything else (narrowing, cross-family) refuses — reads would
    * corrupt or reject files. Partition-spec SOURCE columns refuse
    * too: a bucket component hashes the stored representation
    * (hash(int) ≠ hash(long)) and a float identity/sort token respells
    * under double rendering — the existing tokens would silently stop
    * matching; rewrite with a new layout instead. Float→double drops
    * the column's per-entry stats: the old float-rendered stat strings
    * parse to DIFFERENT doubles than the widened values, and a max
    * stat parsing low would let pruning skip real rows — absent stats
    * are merely conservative. Integral stat strings are exact and
    * carry. Cost: one ~KB manifest write at any table size. */
  def widenColumnTypes(root: String,
      changes: Seq[(String, org.apache.spark.sql.types.DataType)]): Long =
    withCommitLock(root) {
      val (prior, schema) = headWithSchema(root, "alter", "widening columns")
      require(changes.nonEmpty, "ALTER COLUMN TYPE: nothing to widen")
      val resolved = changes.map { case (n, to) =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"ALTER COLUMN $n TYPE: no such column — schema has " +
              schema.fieldNames.mkString(", ")))
        require(widens(f.dataType, to),
          s"ALTER COLUMN ${f.name} TYPE ${to.simpleString}: only " +
            s"read-compatible widenings are supported " +
            s"(byte→short→int→long, float→double); the column is " +
            s"${f.dataType.simpleString} — a rewrite is the only safe " +
            "route for anything else")
        (f, to)
      }
      require(resolved.map(_._1.name).distinct.size == resolved.size,
        "ALTER COLUMN TYPE: a column is widened twice in one statement")
      // EVERY spec in play (current + stamped outgoing vintages): a
      // widened column re-hashes/re-renders under the new type, so any
      // spec still keying entries by it would silently stop matching
      locally {
        val specCols = specsInPlay(prior)
          .flatMap(p => parseSpec(p).sourceCols).toSet
        val sortColOpt = tableLayout(prior).map(_._2)
        resolved.foreach { case (f, _) =>
          require(!specCols.contains(f.name) &&
              !sortColOpt.contains(f.name),
            s"ALTER COLUMN ${f.name} TYPE: it is a partition-spec " +
              "source (current layout or an outgoing vintage still " +
              "stamped on entries) or sort column — tokens hash/render " +
              "the stored representation, so widening would silently " +
              "unmatch them; rewrite with a new layout")
        }
      }
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      val dropStats = resolved.collect {
        case (f, DoubleType) if f.dataType == FloatType => f.name
      }.toSet
      val widenMap = resolved.map { case (f, to) => f.name -> to }.toMap
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.map(f => widenMap.get(f.name)
          .map(to => f.copy(dataType = to)).getOrElse(f)))
      val entries = prior.entries.map { e =>
        e.copy(stats = e.stats.map(mapStatsCols(_, _ -- dropStats)))
      }
      val id = allocateId(root)
      commitManifest(root, Manifest(id, entries, Some(newSchema),
        prior.props), seqOf(prior))
      id
    }

  // ---- nested-field schema evolution ---------------------------------------

  /** Retired NESTED fields — `(id, dotted PHYSICAL path)` of every
    * struct subfield a [[dropNestedColumns]] commit removed: dropped
    * spellings stay in retained files forever, so a later same-named
    * re-ADD under the same parent takes a suffixed physical spelling
    * (no zombie resurrection). Cleared by a full rewrite, like
    * [[RetiredKey]]. */
  private[graft] val RetiredNestedKey = "graft.fields.retiredNested"

  /** Apply `edit` to the struct at `parent` (case-insensitive per
    * level), rebuilding the schema around it. Also hands `edit` the
    * parent's dotted PHYSICAL path (the stable spelling the retired
    * registry and collision checks key on). Throws loudly on a
    * missing segment or a non-struct parent. */
  private def editStructAt(
      schema: org.apache.spark.sql.types.StructType,
      parent: Seq[String], what: String)(
      edit: (org.apache.spark.sql.types.StructType, String) =>
        org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    def walk(st: StructType, segs: Seq[String],
        physPath: Seq[String]): StructType = segs match {
      case Seq() => edit(st, physPath.mkString("."))
      case head +: rest =>
        val f = st.fields.find(_.name.equalsIgnoreCase(head)).getOrElse(
          throw new IllegalArgumentException(
            s"$what: no column '$head' under " +
              s"'${physPath.mkString(".")}' — fields: " +
              st.fieldNames.mkString(", ")))
        f.dataType match {
          case inner: StructType =>
            StructType(st.fields.map(x =>
              if (x.name == f.name)
                f.copy(dataType = walk(inner, rest, physPath :+ physName(f)))
              else x))
          case other => throw new IllegalArgumentException(
            s"$what: '$head' is ${other.simpleString}, not a struct — " +
              "nested evolution addresses struct subfields only")
        }
    }
    walk(schema, parent, Seq.empty)
  }

  private def maxFieldId(s: org.apache.spark.sql.types.StructType): Long = {
    import org.apache.spark.sql.types.StructType
    s.fields.iterator.map { f =>
      val own = if (f.metadata.contains(FieldIdKey))
        f.metadata.getLong(FieldIdKey) else 0L
      val sub = f.dataType match {
        case n: StructType => maxFieldId(n)
        case _ => 0L
      }
      math.max(own, sub)
    }.foldLeft(0L)(math.max)
  }

  /** `ALTER TABLE … ADD COLUMN parent.child <type>` — nested schema
    * evolution as a METADATA-ONLY commit: the subfield appends at the
    * END of its struct; files of every era read it as null (Spark's
    * parquet readers clip nested schemas by name). A re-ADD of a
    * DROPPED nested name binds to a fresh id + suffixed physical
    * spelling — retained files' old values never resurrect. `adds` is
    * (parent path segments, new field); the new field must be
    * nullable. */
  def addNestedColumns(root: String,
      adds: Seq[(Seq[String], org.apache.spark.sql.types.StructField)])
      : Long =
    withCommitLock(root) {
      val (prior, schema0) = headWithSchema(root, "alter", "nested evolution")
      require(adds.nonEmpty, "ADD COLUMN (nested): nothing to add")
      adds.foreach { case (p, f) =>
        require(p.nonEmpty, s"ADD COLUMN ${f.name}: empty parent path")
        require(f.nullable,
          s"ADD COLUMN ${p.mkString(".")}.${f.name}: new columns must " +
            "be nullable — existing rows have no value to back a NOT " +
            "NULL promise")
      }
      var s = stampIds(schema0)
      val retired = retiredFields(prior.props) ++
        retiredNestedFields(prior.props)
      var nextId = math.max(maxFieldId(s),
        retired.iterator.map(_._1).foldLeft(0L)(math.max)) + 1
      adds.foreach { case (parent, f0) =>
        s = editStructAt(s, parent, s"ADD COLUMN ${f0.name}") {
          (st, physParent) =>
            require(!st.fields.exists(_.name.equalsIgnoreCase(f0.name)),
              s"ADD COLUMN $physParent.${f0.name}: a subfield of that " +
                "name already exists")
            val taken = scala.collection.mutable.Set[String]()
            st.fields.foreach(x => taken += physName(x).toLowerCase)
            retiredNestedFields(prior.props).foreach { case (_, dp) =>
              val pref = s"$physParent."
              if (dp.startsWith(pref) && !dp.stripPrefix(pref).contains("."))
                taken += dp.stripPrefix(pref).toLowerCase
            }
            var phys = f0.name
            var k = nextId
            while (taken(phys.toLowerCase)) { phys = s"${f0.name}_r$k"; k += 1 }
            val stamped = f0.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f0.metadata)
                .putLong(FieldIdKey, nextId).putString(PhysKey, phys)
                .build())
            nextId += 1
            org.apache.spark.sql.types.StructType(st.fields :+ stamped)
        }
      }
      val id = allocateId(root)
      commitManifest(root, Manifest(id, prior.entries, Some(s),
        prior.props), seqOf(prior))
      id
    }

  /** `ALTER TABLE … DROP COLUMN parent.child` — nested drop as a
    * METADATA-ONLY commit: the subfield leaves the read schema (files
    * keep the physical column; time travel sees it), and its
    * (id, dotted physical path) joins the retired-nested registry so a
    * later re-ADD cannot resurrect the old values. Refuses to empty a
    * struct. */
  def dropNestedColumns(root: String, paths: Seq[Seq[String]]): Long =
    withCommitLock(root) {
      val (prior, schema0) = headWithSchema(root, "alter", "nested evolution")
      require(paths.nonEmpty && paths.forall(_.length >= 2),
        "DROP COLUMN (nested): each path needs parent.child segments " +
          "(top-level drops go through dropColumns)")
      var s = stampIds(schema0)
      var retired = retiredNestedFields(prior.props)
      paths.foreach { path =>
        val (parent, leaf) = (path.init, path.last)
        s = editStructAt(s, parent, s"DROP COLUMN ${path.mkString(".")}") {
          (st, physParent) =>
            val f = st.fields.find(_.name.equalsIgnoreCase(leaf)).getOrElse(
              throw new IllegalArgumentException(
                s"DROP COLUMN ${path.mkString(".")}: no such subfield — " +
                  s"fields: ${st.fieldNames.mkString(", ")}"))
            require(st.fields.length > 1,
              s"DROP COLUMN ${path.mkString(".")}: cannot drop the last " +
                "subfield of a struct — drop the whole column instead")
            retired :+= ((f.metadata.getLong(FieldIdKey),
              s"$physParent.${physName(f)}"))
            org.apache.spark.sql.types.StructType(
              st.fields.filterNot(_.name == f.name))
        }
      }
      val id = allocateId(root)
      commitManifest(root, Manifest(id, prior.entries, Some(s),
        prior.props + (RetiredNestedKey -> renderRetired(retired))),
        seqOf(prior))
      id
    }

  /** `ALTER TABLE … RENAME COLUMN parent.old TO new` — nested rename
    * as a METADATA-ONLY commit in the column-ID model: the subfield
    * keeps its id and PHYSICAL spelling (what every file spells);
    * reads rebuild the struct under the logical names
    * ([[logicalCol]]). */
  def renameNestedColumns(root: String,
      renames: Seq[(Seq[String], String)]): Long =
    withCommitLock(root) {
      val (prior, schema0) = headWithSchema(root, "alter", "nested evolution")
      require(renames.nonEmpty && renames.forall(_._1.length >= 2),
        "RENAME COLUMN (nested): each path needs parent.child segments " +
          "(top-level renames go through renameColumns)")
      var s = stampIds(schema0)
      renames.foreach { case (path, newName) =>
        val (parent, leaf) = (path.init, path.last)
        require(newName.nonEmpty && !newName.startsWith("__"),
          s"RENAME COLUMN ${path.mkString(".")} TO $newName: empty or " +
            "engine-reserved ('__') name")
        s = editStructAt(s, parent,
          s"RENAME COLUMN ${path.mkString(".")}") { (st, physParent) =>
            val f = st.fields.find(_.name.equalsIgnoreCase(leaf)).getOrElse(
              throw new IllegalArgumentException(
                s"RENAME COLUMN ${path.mkString(".")}: no such subfield " +
                  s"— fields: ${st.fieldNames.mkString(", ")}"))
            val clash = st.fields.exists(x => x.name != f.name &&
              (x.name.equalsIgnoreCase(newName) ||
                physName(x).equalsIgnoreCase(newName)))
            require(!clash,
              s"RENAME COLUMN ${path.mkString(".")} TO $newName: a " +
                "sibling already spells that name (logically or " +
                "physically in the files)")
            org.apache.spark.sql.types.StructType(st.fields.map(x =>
              if (x.name == f.name) x.copy(name = newName) else x))
        }
      }
      val id = allocateId(root)
      commitManifest(root, Manifest(id, prior.entries, Some(s),
        prior.props), seqOf(prior))
      id
    }

  private[graft] def retiredNestedFields(props: Map[String, String])
      : Seq[(Long, String)] =
    props.get(RetiredNestedKey).map { j =>
      import org.json4s._
      jackson.JsonMethods.parse(j) match {
        case JArray(items) => items.map { it =>
          val id = (it \ "id") match {
            case JInt(n) => n.toLong
            case JLong(n) => n
            case other => sys.error(s"bad retired id: $other")
          }
          val ph = (it \ "phys") match {
            case JString(x) => x
            case other => sys.error(s"bad retired phys: $other")
          }
          (id, ph)
        }
        case other => sys.error(s"bad retired nested fields: $other")
      }
    }.getOrElse(Seq.empty)

  /** `ALTER TABLE … RENAME COLUMN old TO new` — a METADATA-ONLY commit
    * in the column-ID model: the manifest schema's logical name moves,
    * the field keeps its stable id and its PHYSICAL name (what every
    * existing parquet file spells), entry stats re-key to the new
    * logical name, and the partition/sort layout props follow. Old
    * files stay readable forever (reads plan under the physical schema
    * and project back to logical names); time travel to a pre-rename
    * manifest sees the old names. Legacy tables ADOPT ids/phys on
    * their first rename. Cost: one ~KB manifest write at any table
    * size. */
  def renameColumns(root: String, renames: Seq[(String, String)]): Long =
    withCommitLock(root) {
      val (prior, schema0) = headWithSchema(root, "alter", "renaming columns")
      val schema = stampIds(schema0)
      require(renames.nonEmpty, "RENAME COLUMN: nothing to rename")
      // resolve each old name case-insensitively (Spark's resolver)
      val resolved: Seq[(String, String)] = renames.map { case (o, n) =>
        val f = schema.fields.find(_.name.equalsIgnoreCase(o)).getOrElse(
          throw new IllegalArgumentException(
            s"RENAME COLUMN $o: no such column — schema has " +
              schema.fieldNames.mkString(", ")))
        (f.name, n)
      }
      val oldSet = resolved.map(_._1).toSet
      require(oldSet.size == resolved.size,
        "RENAME COLUMN: a column is renamed twice in one statement")
      resolved.foreach { case (o, n) =>
        require(n.nonEmpty, s"RENAME COLUMN $o: empty new name")
        require(!n.equalsIgnoreCase("_change_type"),
          s"RENAME COLUMN $o TO $n: '_change_type' is reserved for the " +
            "change feed")
        require(!n.startsWith("__"),
          s"RENAME COLUMN $o TO $n: the '__' prefix is reserved for " +
            "engine marker columns")
        // collision checks against EVERY other field's LOGICAL name —
        // including names this same statement renames away (a swap
        // like (a→b, b→a) would make the write path's logical→physical
        // renames collide mid-fold and corrupt files) — AND against
        // every other field's PHYSICAL spelling: files carry physical
        // names forever, so taking one as a logical name would bind
        // pushed filters and the mapped read to the WRONG file column
        val clash = schema.fields.exists(f =>
          f.name != o && f.name.equalsIgnoreCase(n)) ||
          resolved.exists { case (o2, n2) =>
            o2 != o && n2.equalsIgnoreCase(n) }
        require(!clash,
          s"RENAME COLUMN $o TO $n: a column of that name already " +
            "exists (or is created by this same statement) — swaps " +
            "and reuse of a just-freed name are not supported; files " +
            "spell physical names forever")
        val physClash = schema.fields.find(f =>
          f.name != o && physName(f).equalsIgnoreCase(n))
        require(physClash.isEmpty,
          s"RENAME COLUMN $o TO $n: '$n' is the PHYSICAL (file) name " +
            s"of column '${physClash.map(_.name).getOrElse("")}' — " +
            "files already spell it; pick another name")
      }
      val renameMap = resolved.toMap
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields.map(f =>
          renameMap.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))
      // entry stats are keyed by LOGICAL name — re-key so pruning on
      // the new name keeps working (keys absent from the map pass
      // through; a stale key could only disable pruning, never break
      // correctness, but re-keying here keeps the invariant exact).
      // Stamped OUTGOING-vintage specs re-key too: their source
      // columns are logical names, and spec-aware DML would otherwise
      // select the pre-rename spelling and crash on every mutation
      def renameSpec(s: String): String =
        PartitionSpec(parseSpec(s).fields.map {
          case PartitionSpec.Identity(c) =>
            PartitionSpec.Identity(renameMap.getOrElse(c, c))
          case PartitionSpec.Bucket(n, c) =>
            PartitionSpec.Bucket(n, renameMap.getOrElse(c, c))
          case PartitionSpec.TimeUnit(u, c) =>
            PartitionSpec.TimeUnit(u, renameMap.getOrElse(c, c))
          case PartitionSpec.Truncate(w, c) =>
            PartitionSpec.Truncate(w, renameMap.getOrElse(c, c))
        }).canonical
      val entries = prior.entries.map { e =>
        e.copy(
          stats = e.stats.map(mapStatsCols(_, _.map {
            case (k, v) => renameMap.getOrElse(k, k) -> v
          })),
          spec = e.spec.map(renameSpec))
      }
      // layout props follow the logical names
      val props = prior.props.map {
        case (PartColProp, v) => PartColProp -> renameSpec(v)
        case (SortColProp, v) => SortColProp -> renameMap.getOrElse(v, v)
        case kv => kv
      }
      val id = allocateId(root)
      commitManifest(root, Manifest(id, entries, Some(newSchema), props),
        seqOf(prior))
      id
    }

  // ---- data writes -------------------------------------------------------

  /** One job writes every partition of `df` into the snapshot dir:
    * `__part` duplicates the partition column as the directory key so
    * the files keep the real column, `repartition(partCol)` co-locates
    * each partition's rows, and the (partCol, sortCol) prefix sort
    * survives the dynamic-partition writer verbatim (the
    * [[MergeTreeWriter]] lesson). Returns the written entries, read
    * back from the directory listing — no driver-side distinct. */
  /** `slices` (the [[rewriteDataFiles]] binpack plan): TOTAL planned
    * file count across the write — rows RANGE-partition over
    * (partition value, sort key), so each value binpacks to
    * ~bytes/target files of CONTIGUOUS, NON-OVERLAPPING sort runs
    * (MergeTree-part shape: a sort-column probe inside a big value
    * skips whole row groups/files on parquet footer stats, which
    * hash-sliced files could not offer). The dynamic-partition writer
    * emits one file per (task, dir); range boundaries are row-count
    * balanced, so binpacking is best-effort sizing, never
    * correctness. The count is EXPLICIT so AQE cannot coalesce a
    * small rewrite back into one task (one task = one file per dir,
    * silently defeating the split) — and a hot value's rewrite
    * spreads over parallel writers instead of the plain path's
    * one-task-per-value funnel. */
  private def writeSnapData(df: DataFrame, root: String, snapId: Long,
      partCol: String, sortCol: String,
      schemaHint: Option[org.apache.spark.sql.types.StructType] = None,
      slices: Option[Int] = None)
      : Seq[Entry] = {
    val rel = s"data/snap-$snapId"
    val dataDir = s"$root/$rel"
    // partCol is a PARTITION SPEC string ([[PartitionSpec]]) — a bare
    // column name (the legacy single-identity layout, token = bare
    // cast) or a multi-transform spec whose token is the joined
    // component rendering. The token is computed over the LOGICAL
    // names FIRST; data columns are then respelled to their PHYSICAL
    // names at every level ([[PhysKey]] / [[physicalizeFrame]] — the
    // invariant spelling every file of the table shares, so renamed
    // tables read with one schema).
    val physOf: Map[String, String] =
      schemaHint.map(physMapOf).getOrElse(Map.empty)
    val spec = PartitionSpec.parse(partCol)
    spec.validate(df.schema) // time/truncate transform type checks, loud
    val tokened = df.withColumn(PartKey, spec.tokenExpr(c => col(c)))
    val renamed = schemaHint
      .map(physicalizeFrame(tokened, _)).getOrElse(tokened)
    val physSort = physOf.getOrElse(sortCol, sortCol)
    // sort prefix must be the PARTITION KEY ATTRIBUTE itself — the
    // dynamic-partition writer checks its required ordering by
    // expression identity, and a sort on the source column (not
    // expression-equal to the __part alias) would make it inject its
    // own __part-only sort, destroying the time order (the
    // MergeTreeWriter lesson).
    val prepared = slices match {
      case Some(n) => renamed
        .repartitionByRange(math.max(1, n), col(PartKey),
          col(quoted(physSort)))
        .sortWithinPartitions(col(PartKey), col(quoted(physSort)))
      case None => renamed
        .repartition(col(PartKey))
        .sortWithinPartitions(col(PartKey), col(quoted(physSort)))
    }
    // snapshot data is written TIMESTAMP_MICROS, not the session
    // default INT96: INT96 is deprecated in parquet-format, records NO
    // chunk statistics (the footer harvest would silently lose every
    // timestamp column) and takes no filter pushdown. Scoped through a
    // session CLONE — flipping the shared session's conf would leak to
    // concurrent jobs in the window.
    org.apache.spark.sql.GraftPlanBridge.withSessionConf(prepared,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
      // the snap dir was atomically CLAIMED (empty) by allocateId, so
      // it exists and is exclusively ours: append into it — the old
      // errorifexists would refuse our own claim, and its non-atomic
      // check-then-write couldn't stop a cross-host id race anyway
      .write.mode("append").partitionBy(PartKey).parquet(dataDir)
    // dir tokens are Spark-escaped; the Entry keeps the escaped token
    // in its PATH and the decoded value in its VALUE
    val toks = listParts(dataDir)
    // NULL partition values are rejected at the COMMIT boundary: Spark
    // writes them as the __HIVE_DEFAULT_PARTITION__ sentinel dir, whose
    // name is NOT escaped — so Entry.value would carry that literal
    // string, a real string partition spelled the same would silently
    // merge with the null partition, and readWhere predicates could
    // never tell them apart. Detection here (after the data write,
    // before any manifest exists) costs nothing and aborts with no
    // pointer moved — the half-written snap dir is an inert orphan
    // exactly like a crash mid-write, swept by expire(). The same
    // check rejects the colliding literal string, which is equally
    // unrepresentable.
    val nullTok = toks.find(
      _ == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME)
    require(nullTok.isEmpty,
      s"snapshot commit rejected: partition spec '$partCol' rendered " +
        "NULL tokens (a NULL in any partition/bucket source column, " +
        "or the literal __HIVE_DEFAULT_PARTITION__ string) — the " +
        "directory sentinel is ambiguous with a real string value; " +
        "filter or default the partition columns before committing")
    // footers carry PHYSICAL column names; entry stats are keyed by
    // LOGICAL names (what pruning predicates reference) — translate
    val statSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields.map(f =>
        f.copy(name = physOf.getOrElse(f.name, f.name))))
    val logicalOf = physOf.map(_.swap)
    // per-FILE grain on the sort column: binpacked slices are disjoint
    // sorted runs, so these ranges let the scan skip files inside a
    // kept dir ([[FileStats]])
    val stats0 = harvestStats(df.sparkSession, dataDir, statSchema,
      fileStatCols = Set(physSort))
    def toLogical(cols: Map[String, ColStats]): Map[String, ColStats] =
      cols.map { case (k, v) => logicalOf.getOrElse(k, k) -> v }
    val stats = stats0.map { case (tok, es) =>
      tok -> es.copy(cols = toLogical(es.cols),
        files = es.files.map(f => f.copy(cols = toLogical(f.cols))))
    }
    toks.map { tok =>
      val v = unescapeDirToken(tok)
      Entry(v, s"$rel/$PartKey=$tok", stats.get(v))
    }
  }

  private def listParts(dataDir: String): Seq[String] = {
    val d = new java.io.File(dataDir)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"$PartKey="))
      .map(_.getName.stripPrefix(s"$PartKey="))
      .toSeq.sorted
  }

  /** All retained manifest ids, ascending. */
  private def retainedIds(root: String): Seq[Long] = {
    val dir = Paths.get(root, "manifests")
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[Long]()
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith("manifest-"))
            buf += n.stripPrefix("manifest-").toLong
        }
        buf.toSeq.sorted
      } finally s.close()
    }
  }

  /** Allocate a snapshot id by ATOMICALLY CLAIMING its data dir:
    * `mkdir data/snap-<id>` fails with EEXIST if anyone — any host on
    * a shared mount — got there first, so two writers can never share
    * an id, which makes `manifests/manifest-<id>` single-writer by
    * construction too (without the claim, two hosts racing from the
    * same base could both pick max+1, mix files in one data dir, and
    * clobber each other's manifest file through the chain hard link).
    * The scan starts above BOTH retained manifests and existing dirs:
    * a crash between claim and publish leaves an orphaned
    * `data/snap-N` that later claims simply skip (no manifest
    * references it; [[expire]] sweeps it past the orphan grace). */
  private def allocateId(root: String): Long = {
    Files.createDirectories(Paths.get(root, "data"))
    val dataDir = new java.io.File(s"$root/data")
    val dirIds = Option(dataDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .flatMap(f => f.getName.stripPrefix("snap-").toLongOption)
      .toSeq
    var id = (0L +: (retainedIds(root) ++ dirIds)).max + 1
    while (true) {
      try {
        Files.createDirectory(Paths.get(root, "data", s"snap-$id"))
        return id
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => id += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- table layout props --------------------------------------------------

  /** The partition/sort layout is durable table metadata: recorded in
    * the manifest props by every commit, so name-only entry points (the
    * SQL INSERT/MERGE paths in [[graft.sources.GraftSnapshotSource]])
    * can commit without the caller re-stating the layout — and a caller
    * RE-stating a DIFFERENT layout on an incremental commit is a loud
    * error instead of a silently mixed-layout table. */
  private[graft] val PartColProp = "table.partCol"
  private[graft] val SortColProp = "table.sortCol"

  /** The writer session's `spark.sql.session.timeZone`, recorded at
    * every commit: partition dir tokens of a TZ-timestamp partition
    * column are rendered by `cast(partCol as string)` UNDER THAT ZONE,
    * so any later value-addressed partition op (DELETE literals, MERGE
    * discovery pruning) must render under the same zone or it silently
    * matches nothing. Readers don't depend on tokens; this prop exists
    * for the write/delete paths to compare against. */
  private[graft] val TzProp = "table.tz"

  /** The zone that actually RENDERS this frame's partition tokens:
    * `writeSnapData` casts through the frame's own session (which may
    * be a conf-scoped clone — the `withSessionConf` pattern), so the
    * recorded prop must come from `df.sparkSession`, never the
    * thread's active session. */
  private def renderTz(df: DataFrame): Option[String] =
    scala.util.Try(
      df.sparkSession.sessionState.conf.sessionLocalTimeZone).toOption

  /** Do two session-timezone settings render TZ timestamps to the SAME
    * strings? Zone-ID string equality would falsely refuse aliased
    * zones (UTC vs Etc/UTC vs +00:00, Asia/Kolkata vs Asia/Calcutta) —
    * compare the zone RULES, which define the rendering. Unparseable
    * ids fall back to string equality (never throw from a guard). */
  private[graft] def sameRendering(a: String, b: String): Boolean =
    a == b || (try
      java.time.ZoneId.of(a).getRules == java.time.ZoneId.of(b).getRules
    catch { case _: Exception => false })

  /** Guard for any operation that must match RENDERED partition tokens
    * against manifest entry values on a TZ-timestamp partition column
    * (row-level DML discovery, MERGE discovery): the tokens were
    * rendered under the writer's zone ([[TzProp]]); rendering under a
    * session whose zone differs would match zero entries — the op
    * would commit "success" while changing nothing (or duplicate a
    * partition under two spellings). Refuses loudly when the zones
    * differ OR the table predates zone recording (no way to prove
    * agreement). Non-timestamp partition columns pass untouched; a
    * schema-less legacy manifest cannot be typed and passes
    * conservatively (pre-schema tables predate TZ-ts partitioning
    * support). */
  private[graft] def checkTokenRenderZone(spark: SparkSession,
      m: Manifest, partCol: String, what: String): Unit = {
    // identity components render through the session-zone cast and
    // time transforms through session-zone date_format; bucket
    // components hash the zone-independent internal micros
    val isTzTs = parseSpec(partCol).zoneSensitiveCols.exists(c =>
      m.schema.exists(_.fields.exists(f =>
        f.name == c &&
          f.dataType == org.apache.spark.sql.types.TimestampType)))
    if (!isTzTs) return
    val sess = spark.sessionState.conf.sessionLocalTimeZone
    val wtz = m.props.get(TzProp)
    require(wtz.exists(sameRendering(_, sess)),
      wtz match {
        case Some(w) =>
          s"$what on a TZ-timestamp-partitioned table refused: " +
            s"partition tokens were rendered under session timezone " +
            s"'$w' but this session uses '$sess' — matching tokens " +
            "under a different zone would silently miss every " +
            "partition; set spark.sql.session.timeZone to match"
        case None =>
          s"$what on a TZ-timestamp-partitioned table refused: the " +
            "table predates timezone-recording manifests (no table.tz " +
            "prop), so token rendering cannot be proven to match the " +
            "writer's — recommit (full write) to record the zone"
      })
  }

  /** The recorded (partition SPEC string, sortCol) of a committed
    * table, if its manifests carry layout props (every commit since
    * stats-era does). The first slot is a [[PartitionSpec]] canonical
    * string — a bare column name for legacy single-identity layouts. */
  def tableLayout(m: Manifest): Option[(String, String)] =
    for { p <- m.props.get(PartColProp); s <- m.props.get(SortColProp) }
      yield (p, s)

  /** A spec string parsed leniently: an unparseable legacy string
    * degrades to a single-identity spec of the raw string (never throw
    * from a comparison/guard path on one odd layout prop). */
  private[graft] def parseSpec(s: String): PartitionSpec =
    try PartitionSpec.parse(s)
    // ONLY the documented parse failure degrades to the legacy
    // single-identity reading — a broader catch would mask a real
    // programming error (MatchError/NPE) inside the guard paths and
    // quietly weaken the layout/TZ checks that call through here
    catch { case _: IllegalArgumentException =>
      PartitionSpec(Seq(PartitionSpec.Identity(s)))
    }

  private def canonicalSpec(s: String): String = parseSpec(s).canonical

  /** Incremental commits must match the recorded layout; a full
    * [[write]] redefines it (it rewrites every partition anyway).
    * Spec strings compare CANONICALIZED, so spelling variance
    * (`bucket( 16 , id )`) can't fail a matching layout. */
  private def checkLayout(prior: Option[Manifest], partCol: String,
      sortCol: String, df: DataFrame): Unit = {
    prior.flatMap(tableLayout).foreach { case (p, s) =>
      require(canonicalSpec(p) == canonicalSpec(partCol) && s == sortCol,
        s"commit layout ($partCol, $sortCol) does not match the table's " +
          s"recorded layout ($p, $s) — a mixed-layout table cannot be " +
          "read back; write a full snapshot to change the layout")
    }
    // A TZ-timestamp IDENTITY partition component's dir tokens are
    // rendered under the WRITER session's timezone ([[TzProp]]): an
    // append under a differently-RENDERING zone would split the same
    // instant across two tokens — reads stay correct (they never
    // address by token) but DELETE and MERGE pruning would silently
    // miss rows. Refuse loudly instead; equivalently-rendering zone
    // aliases pass. (Bucket components hash the zone-independent
    // internal micros — no check needed.)
    for {
      pm <- prior
      wtz <- pm.props.get(TzProp)
      tz <- renderTz(df)
      if parseSpec(partCol).zoneSensitiveCols.exists(c =>
        pm.schema.exists(_.fields.exists(f =>
          f.name == c &&
            f.dataType == org.apache.spark.sql.types.TimestampType)))
    } require(sameRendering(tz, wtz),
      s"this table's TZ-timestamp partition tokens were rendered under " +
        s"session timezone '$wtz' but this session uses '$tz' — set " +
        "spark.sql.session.timeZone to match, or rewrite the table " +
        "with a full snapshot")
  }

  private def layoutProps(partCol: String, sortCol: String,
      df: DataFrame): Map[String, String] =
    Map(PartColProp -> canonicalSpec(partCol), SortColProp -> sortCol) ++
      renderTz(df).map(TzProp -> _)

  // ---- public writer API -------------------------------------------------

  /** Writer mutual exclusion: without it, two concurrent backfills of
    * DIFFERENT partitions race — both read the same prior manifest, so
    * the second publish silently carries a stale entry set that omits
    * the first's restatement (a lost update; the id-allocation race is
    * already loud via `errorifexists`, the manifest race is not). A
    * per-root JVM monitor serializes threads in one process; a
    * `FileLock` on `.commit.lock` serializes processes on one host.
    * Cross-HOST writers are not blocked here (file locks are not
    * reliable across network mounts) — they are caught at PUBLISH
    * time by the commit-chain claim in [[commitManifest]], which
    * turns the would-be lost update into a loud
    * [[ConcurrentCommitException]]: optimistic concurrency (the
    * Iceberg model) where this lock is the fast-path serializer.
    * Readers never need any of this. */
  /** Per-root lock state: the monitor serializes threads (reentrant),
    * `depth` makes the FILE lock reentrant too — a nested acquisition
    * on the same root in the same thread must compose (e.g. a caller
    * running expire inside commitDir), not die on
    * OverlappingFileLockException from a second channel. */
  private final class RootLock {
    var depth = 0
    var ch: java.nio.channels.FileChannel = _
    var fl: java.nio.channels.FileLock = _
  }
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, RootLock]()
  private def withCommitLock[T](root: String)(f: => T): T = {
    val key = new java.io.File(root).getCanonicalPath
    val rl = jvmLocks.computeIfAbsent(key, _ => new RootLock)
    rl.synchronized {
      if (rl.depth == 0) {
        Files.createDirectories(Paths.get(root))
        rl.ch = java.nio.channels.FileChannel.open(
          Paths.get(root, ".commit.lock"),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        try rl.fl = rl.ch.lock()
        catch { case e: Throwable => rl.ch.close(); rl.ch = null; throw e }
      }
      rl.depth += 1
      try f
      finally {
        rl.depth -= 1
        if (rl.depth == 0) {
          try rl.fl.release() finally { rl.ch.close(); rl.ch = null; rl.fl = null }
        }
      }
    }
  }

  /** The commit lock, public: a multi-step table transaction (read →
    * transform → commit, e.g. [[graft.operators.MergeInto.mergeCommit]])
    * must hold the SAME lock across its read phase, or a concurrent
    * writer between its read and its commit silently reverts that
    * writer's work (classic lost update). Reentrant — nested
    * write/backfill/expire calls on the same root compose. */
  def withTableLock[T](root: String)(f: => T): T = withCommitLock(root)(f)

  /** Create an EMPTY snapshot table: schema + layout recorded, zero
    * entries — the `CREATE TABLE` primitive (the catalog's SQL DDL
    * entry). Reads type from the manifest schema; the first INSERT
    * appends into the recorded layout. Fails loudly if a table already
    * exists at `root` (CREATE is not idempotent — `IF NOT EXISTS` is
    * the caller's check). */
  def createEmpty(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType,
      partCol0: String, sortCol0: String): Long = {
    // resolve case-insensitively (Spark's default resolver) and
    // NORMALIZE to the schema's casing before storing the props —
    // partition-token rendering downstream uses the stored string
    def resolve(what: String, c: String): String =
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"$what column '$c' is not in the schema: " +
            schema.fieldNames.mkString(", ")))
    val spec = PartitionSpec(parseSpec(partCol0).fields.map {
      case PartitionSpec.Identity(c) =>
        PartitionSpec.Identity(resolve("partition", c))
      case PartitionSpec.Bucket(n, c) =>
        PartitionSpec.Bucket(n, resolve("partition bucket", c))
      case PartitionSpec.TimeUnit(u, c) =>
        PartitionSpec.TimeUnit(u, resolve(s"partition $u", c))
      case PartitionSpec.Truncate(w, c) =>
        PartitionSpec.Truncate(w, resolve("partition truncate", c))
    }).canonical
    PartitionSpec.parse(spec).validate(schema)
    val partCol = spec
    val sortCol = resolve("sort", sortCol0)
    withCommitLock(root) {
      require(current(root).isEmpty,
        s"a snapshot table already exists at $root")
      val id = allocateId(root)
      val tz = scala.util.Try(
        spark.sessionState.conf.sessionLocalTimeZone).toOption
      // stamp stable field ids + physical names at birth — RENAME
      // COLUMN is then always a pure manifest re-key
      commitManifest(root, Manifest(id, Seq.empty, Some(stampIds(schema)),
        Map(PartColProp -> partCol, SortColProp -> sortCol) ++
          tz.map(TzProp -> _)), 0L)
      id
    }
  }

  /** Append columns to the table schema as a METADATA-ONLY commit —
    * explicit schema evolution (`ALTER TABLE … ADD COLUMN`), the same
    * merge a column-adding backfill performs at its commit boundary,
    * minus the data: entries carry by reference, every existing dir
    * reads the new columns as null (the manifest schema is applied to
    * all listed dirs), time travel keeps each snapshot's own shape.
    * New columns must be NULLABLE (there is no data to back a NOT NULL
    * promise) and must not collide with existing names. Cost: one ~KB
    * manifest write at any table size. */
  def addColumns(root: String,
      newFields: Seq[org.apache.spark.sql.types.StructField]): Long =
    withCommitLock(root) {
      val (prior, schema) = headWithSchema(root, "alter", "altering")
      newFields.foreach { f =>
        require(f.nullable,
          s"ADD COLUMN ${f.name}: new columns must be nullable — " +
            "existing rows have no value to back a NOT NULL promise")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(f.name)),
          s"ADD COLUMN ${f.name}: a column of that name already exists")
        // a rename frees the LOGICAL spelling but the files still
        // carry it physically — re-adding it would put two columns of
        // one name into new files and make the mapped read ambiguous
        val physClash = schema.fields.find(pf =>
          physName(pf).equalsIgnoreCase(f.name) &&
            !pf.name.equalsIgnoreCase(f.name))
        require(physClash.isEmpty,
          s"ADD COLUMN ${f.name}: collides with the PHYSICAL " +
            s"(pre-rename) name of column '${physClash.map(_.name)
              .getOrElse("")}' — files already spell that name")
      }
      val dupInBatch = newFields.groupBy(_.name.toLowerCase)
        .collect { case (_, fs) if fs.size > 1 => fs.head.name }
      require(dupInBatch.isEmpty,
        s"ADD COLUMN: duplicate new column name(s) in one statement: " +
          dupInBatch.mkString(", "))
      // stamp the new fields NOW (fresh id, collision-free physical
      // name): re-adding a DROPPED column's name must bind to a fresh
      // physical spelling, never to the retained files' old values
      val id = allocateId(root)
      commitManifest(root, Manifest(id, prior.entries,
        Some(stampNewFields(prior.props, Some(schema),
          org.apache.spark.sql.types.StructType(
            schema.fields ++ newFields))),
        prior.props), seqOf(prior))
      id
    }

  /** Full-table snapshot: every partition written fresh, committed as
    * one atomic pointer swap. Returns the snapshot id. */
  def write(df: DataFrame, root: String, partCol: String,
      sortCol: String): Long =
    withCommitLock(root)(writeLocked(df, root, partCol, sortCol))

  /** `noRowChange = true` marks the commit as a pure REWRITE (same
    * rows, new layout — compaction): an EMPTY CDC sidecar dir is
    * created, so the change feed's per-commit replay emits NOTHING for
    * it (Delta's `dataChange = false` analogue) instead of wholesale
    * delete+insert churn for content that did not change. */
  private def writeLocked(df: DataFrame, root: String, partCol: String,
      sortCol: String, noRowChange: Boolean = false): Long = {
    // a full write rewrites everything, so it may REDEFINE the layout;
    // stable field ids AND frozen physical names carry by logical name
    // (see [[carryIdsReset]] — retained old dirs/sidecars still spell
    // the physical names, so new files must keep spelling them too)
    val prior = current(root)
    val id = allocateId(root)
    val schema2 = carryIdsReset(prior.flatMap(_.schema), df.schema)
    val entries = writeSnapData(df, root, id, partCol, sortCol,
      Some(schema2))
    if (noRowChange) Files.createDirectories(cdcDirOf(root, id))
    // a full rewrite re-owns every column spelling: the new entry list
    // references no pre-drop file, so the retired-field registry (a
    // guard against resurrecting dropped columns from RETAINED entries)
    // resets — a post-rewrite ADD may take any free name at face value
    commitManifest(root, Manifest(id, entries, Some(schema2),
      prior.map(_.props - RetiredKey - RetiredNestedKey)
        .getOrElse(Map.empty) ++
        layoutProps(partCol, sortCol, df)),
      prior.map(seqOf).getOrElse(0L))
    id
  }

  /** Atomic partition backfill — the safe form of the MergeTree
    * operational replay (`DROP PARTITION` + re-INSERT; ClickHouse
    * practice, an extension — not in the reference, whose replay
    * re-runs the import loop, README.md:527-532): only `df`'s
    * partitions are written;
    * the new manifest carries every other partition's PRIOR dir
    * forward by reference. Cost ∝ restated data; visibility flips for
    * all restated partitions at once. */
  def overwritePartitions(df: DataFrame, root: String, partCol: String,
      sortCol: String): Long = {
    // existence precheck BEFORE the lock: a typo'd root must throw
    // without leaving a phantom directory + lock file behind. The
    // authoritative read still happens under the lock.
    if (current(root).isEmpty)
      throw new IllegalStateException(s"no snapshot at $root to backfill")
    withCommitLock(root)(overwritePartitionsLocked(df, root, partCol, sortCol))
  }

  private def overwritePartitionsLocked(df: DataFrame, root: String,
      partCol: String, sortCol: String): Long = {
    val prior = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root to backfill"))
    checkLayout(Some(prior), partCol, sortCol, df)
    // schema evolution happens at the COMMIT boundary: a backfill
    // adding columns appends them to the table schema; a type change
    // fails here, before any pointer moves. New fields stamp fresh
    // ids/physical names (a re-added DROPPED name must not bind to
    // retained files' old values)
    val merged = stampNewFields(prior.props, prior.schema,
      prior.schema.map(mergeSchemas(_, df.schema)).getOrElse(df.schema))
    val spark = df.sparkSession
    val spec = parseSpec(partCol)
    spec.validate(df.schema)
    // SPEC-VINTAGE migration ([[evolvePartitionSpec]]): "replace
    // partition V" must replace V's rows wherever they live — including
    // inside OUTGOING-vintage entries whose own tokens cannot name V.
    // The restated value set is rendered from `df` up front; each
    // old-vintage entry holding ≥1 row whose CURRENT-spec token falls
    // in it is dropped, its rows outside the set SURVIVE by restating
    // under the current layout (additive parts beside any carried
    // current entries of the same value) — so the overwrite doubles as
    // an incremental layout migration. Untouched old-vintage entries
    // carry by reference; single-vintage tables skip all of this.
    val restatedVals: Set[String] = df
      .select(spec.tokenExpr(col).as("__tok")).distinct()
      .collect().map(_.getString(0)).toSet
    val oldEntries = prior.entries.filter(_.spec.isDefined)
    val (toWrite, dropOld) =
      if (oldEntries.isEmpty || restatedVals.isEmpty) (df, Set.empty[(String, String)])
      else {
        // the survivor-migration read below is RAW (per-entry, no
        // displacement) — with live equality deletes it would restate
        // resurrected rows into the migrated layout
        requireNoEqDeletes(prior, "dynamic overwrite across spec vintages")
        val schema = prior.schema.getOrElse(throw new IllegalStateException(
          s"table at $root holds spec vintages but no schema — corrupt"))
        val content = readEntriesWithPositions(spark, root, schema,
            oldEntries)
          .withColumn("__graft_curtok", spec.tokenExpr(col))
          .withColumn("__graft_dir", entryDirCol)
        val affectedDirs = content
          .filter(col("__graft_curtok").isInCollection(restatedVals.toSeq))
          .select(col("__graft_dir")).distinct()
          .collect().map(_.getString(0)).toSet
        if (affectedDirs.isEmpty) (df, Set.empty[(String, String)])
        else {
          val byDir = prior.entries.map(e => e.dir -> e).toMap
          val affected = affectedDirs.toSeq.sorted.map(byDir)
          val pairs = affected.map(e =>
            (canonicalSpec(e.spec.get), e.value)).toSet
          val survivors = content
            .filter(col("__graft_dir").isInCollection(affectedDirs.toSeq) &&
              !col("__graft_curtok").isInCollection(restatedVals.toSeq))
            .select(schema.fieldNames.toIndexedSeq
              .map(n => col(quoted(n))): _*)
          (df.unionByName(survivors, allowMissingColumns = true), pairs)
        }
      }
    val id = allocateId(root)
    val fresh = writeSnapData(toWrite, root, id, partCol, sortCol,
      Some(merged))
    val carried = prior.entries.filterNot(e => e.spec match {
      case None => restatedVals(e.value)
      case Some(s) => dropOld((canonicalSpec(s), e.value))
    })
    commitManifest(root, Manifest(id, carried ++ fresh, Some(merged),
      prior.props ++ layoutProps(partCol, sortCol, df)), seqOf(prior))
    id
  }

  /** Append `df` as NEW parts without dropping anything — the
    * MergeTree-insert analogue and the streaming-ingest commit: fresh
    * dirs are written for `df`'s partitions and ADDED to the prior
    * manifest's entry list, so a partition accumulates parts (one per
    * append) that readers scan together and [[compact]] later folds
    * to one dir each. Cost ∝ appended data + one pointer swap; an
    * append can never lose or revert concurrent restatements (it
    * drops nothing and holds the commit lock).
    *
    * Exactly-once for at-least-once callers (a Structured Streaming
    * `foreachBatch` retries a batch whose commit landed but whose
    * checkpoint did not): pass `idempotence = (writerId, batchToken)`
    * — the token of each writer's LAST append is recorded in the
    * manifest props under a PER-WRITER key, and a re-delivered token
    * is skipped (returning the current id). One slot per writer
    * suffices because streaming batch ids are monotonic per
    * checkpoint: only a writer's most recent batch can ever be
    * re-delivered. The slot must be per-writer, not global: with one
    * shared slot, a second pipeline's commit would ERASE the first's
    * recorded token, so the first pipeline's retried batch would no
    * longer be recognized as a replay and its rows would append TWICE.
    * The writer id is naturally the checkpoint dir (batch ids restart
    * at 0 per checkpoint); props growth is one entry per pipeline
    * that ever appended, which is operator-bounded. Tokens are
    * durable table metadata (props survive interleaved backfills and
    * compactions), so the replay check holds even when other commit
    * kinds ran between the append and its retry. */
  def appendPartitions(df: DataFrame, root: String, partCol: String,
      sortCol: String, idempotence: Option[(String, String)] = None,
      idempotenceAliases: Seq[String] = Nil): Long =
    withCommitLock(root) {
      val slot = idempotence.map { case (w, _) => AppendTokenPrefix + w }
      // alias slots: LEGACY writer-id spellings whose recorded token
      // also counts as "this batch already committed" — a caller that
      // canonicalized its writer id mid-deployment would otherwise open
      // a fresh slot and the one batch re-delivered across the upgrade
      // would append twice (new commits record under the canonical
      // slot only, so aliases age out after one successful commit)
      val aliasSlots = idempotenceAliases.map(AppendTokenPrefix + _)
      // an append is COMMUTATIVE over the base: its fresh dirs don't
      // depend on base content, only the carried entry list does — so
      // a cross-host publish conflict ([[ConcurrentCommitException]])
      // re-runs just the manifest merge against the winner's state,
      // reusing the data written on the first attempt. Bounded: a
      // pathological commit storm surfaces the conflict to the caller
      // rather than looping forever.
      var fresh: Seq[Entry] = null
      var id = 0L
      def attempt(retriesLeft: Int): Long = current(root) match {
        case Some(prior) if idempotence.exists { case (_, tok) =>
            (slot ++ aliasSlots).exists(s =>
              prior.props.get(s).contains(tok)) } =>
          prior.id // the batch already committed; retry is a no-op
        case prior =>
          checkLayout(prior, partCol, sortCol, df)
          val merged = stampNewFields(
            prior.map(_.props).getOrElse(Map.empty),
            prior.flatMap(_.schema),
            prior.flatMap(_.schema)
              .map(mergeSchemas(_, df.schema)).getOrElse(df.schema))
          val props = prior.map(_.props).getOrElse(Map.empty) ++
            idempotence.map { case (w, t) => (AppendTokenPrefix + w) -> t } ++
            layoutProps(partCol, sortCol, df)
          if (fresh == null) { // written once; conflicts reuse the dirs
            id = allocateId(root)
            fresh = writeSnapData(df, root, id, partCol, sortCol,
              Some(merged))
          }
          try {
            commitManifest(root, Manifest(id,
              prior.map(_.entries).getOrElse(Seq.empty) ++ fresh,
              Some(merged), props), prior.map(seqOf).getOrElse(0L))
            id
          } catch {
            case e: ConcurrentCommitException =>
              if (retriesLeft <= 0) throw e
              attempt(retriesLeft - 1)
          }
      }
      attempt(AppendConflictRetries)
    }

  private[graft] val AppendTokenPrefix = "append.lastToken."
  private val AppendConflictRetries = 5

  /** STREAMING EQUALITY-DELETE UPSERT — the O(batch) CDC-ingest
    * commit (Flink→Iceberg shape; Iceberg v2 equality deletes, an
    * extension — the reference's ClickHouse analogue is
    * ReplacingMergeTree's key-based replacement at merge time):
    * append `df` as new parts AND, in the SAME atomic commit, an
    * equality-delete sidecar of `df`'s key tuples — every OLDER row
    * with one of those keys is displaced at read time. The commit
    * cost is O(batch); the read applies one broadcast anti-join; a
    * later [[rewriteDataFiles]]/[[compact]] folds the deletes into
    * clean files (restated entries are born after the delete and were
    * read resolved, so [[commitManifest]] auto-prunes aged deletes).
    *
    * Contract (checked in one O(batch) aggregate): the batch is
    * key-UNIQUE (a duplicate key within one batch would survive
    * twice — pre-fold the batch) and key-NON-NULL (a null key can
    * never displace anything — SQL equality). Exactly-once for
    * at-least-once callers via the same per-writer idempotence slots
    * as [[appendPartitions]]. While equality deletes are live the
    * table refuses row-level DML (fold first — loud, never wrong);
    * reads, appends, upserts, time travel and the change feed all
    * compose. Readers below era 3 refuse the manifest
    * ([[ReaderVersionProp]] — a delete-blind reader would resurrect
    * displaced rows). */
  def appendUpsert(df: DataFrame, root: String, partCol: String,
      sortCol: String, keyCols: Seq[String],
      idempotence: Option[(String, String)] = None): Long =
    withCommitLock(root) {
      require(keyCols.nonEmpty,
        "appendUpsert needs at least one key column")
      keyCols.foreach(c => require(df.columns.contains(c),
        s"appendUpsert key column '$c' is not in the batch"))
      val slot = idempotence.map { case (w, _) => AppendTokenPrefix + w }
      // batch-contract check once (depends only on df)
      val keyStruct = struct(keyCols.map(c => col(quoted(c))): _*)
      val chk = df.agg(count(lit(1)).as("n"),
        countDistinct(keyStruct).as("d"),
        count(when(keyCols.map(c => col(quoted(c)).isNull)
          .reduce(_ || _), 1)).as("nulls")).head()
      require(chk.getLong(2) == 0L,
        s"appendUpsert batch carries NULL keys in ${keyCols
          .mkString("(", ", ", ")")} — a null key can never " +
          "displace a row; filter or default the keys")
      require(chk.getLong(0) == chk.getLong(1),
        s"appendUpsert batch is not key-unique on ${keyCols
          .mkString("(", ", ", ")")}: ${chk.getLong(0)} rows, " +
          s"${chk.getLong(1)} distinct keys — fold the batch to " +
          "one row per key first (both would survive otherwise)")
      // like an append, an upsert is COMMUTATIVE over the base: its
      // fresh dirs and sidecar don't depend on base content
      // (displacement keys on the allocated snap id), so a cross-host
      // publish conflict re-runs just the manifest merge against the
      // winner, reusing the data written on the first attempt
      var fresh: Seq[Entry] = null
      var id = 0L
      var ref: EqDeleteRef = null
      def attempt(retriesLeft: Int): Long = current(root) match {
        case Some(prior) if idempotence.exists { case (_, tok) =>
            slot.exists(s => prior.props.get(s).contains(tok)) } =>
          prior.id // the batch already committed; retry is a no-op
        case prior =>
          checkLayout(prior, partCol, sortCol, df)
          val merged = stampNewFields(
            prior.map(_.props).getOrElse(Map.empty),
            prior.flatMap(_.schema),
            prior.flatMap(_.schema)
              .map(mergeSchemas(_, df.schema)).getOrElse(df.schema))
          val physOf = physMapOf(merged)
          if (fresh == null) { // written once; conflicts reuse the dirs
            id = allocateId(root)
            fresh = writeSnapData(df, root, id, partCol, sortCol,
              Some(merged))
            // the sidecar: DISTINCT key tuples under the PHYSICAL
            // spelling (rename-invariant, like data files), inside the
            // exclusively-claimed snap dir — retention follows the
            // manifests that reference it
            org.apache.spark.sql.GraftPlanBridge.withSessionConf(
              df.select(keyCols.map(c =>
                col(quoted(c)).as(physOf.getOrElse(c, c))): _*)
                .distinct(),
              "spark.sql.parquet.outputTimestampType" ->
                "TIMESTAMP_MICROS")
              .write.mode("errorifexists")
              .parquet(eqDelDirOf(root, id).toString)
            ref = EqDeleteRef(id, s"data/snap-$id/$EqDelDirName",
              keyCols.map(c => physOf.getOrElse(c, c)), chk.getLong(1))
          }
          val props = prior.map(_.props).getOrElse(Map.empty) ++
            idempotence.map { case (w, t) =>
              (AppendTokenPrefix + w) -> t } ++
            layoutProps(partCol, sortCol, df) + renderEqDelProp(ref)
          try {
            commitManifest(root, Manifest(id,
              prior.map(_.entries).getOrElse(Seq.empty) ++ fresh,
              Some(merged), props), prior.map(seqOf).getOrElse(0L))
            id
          } catch {
            case e: ConcurrentCommitException =>
              if (retriesLeft <= 0) throw e
              attempt(retriesLeft - 1)
          }
      }
      attempt(AppendConflictRetries)
    }

  /** Restate an EXPLICIT partition set as one atomic commit — the
    * primitive a copy-on-write MERGE needs and [[overwritePartitions]]
    * cannot express: there the restated set is derived from the dirs
    * the write actually produced, so a restatement that leaves a
    * partition EMPTY (a MERGE whose deletes drain a whole month) would
    * silently carry the old dir forward and the deleted rows would
    * resurface. Here `dropValues` names every partition being
    * restated; each is dropped from the manifest even when `restated`
    * writes no rows for it, prior entries outside the set carry
    * forward by reference, and `restated` rows landing in partitions
    * outside `dropValues` are a caller bug (rejected — they would
    * shadow a carried entry with a duplicate value). */
  /** `dropOld` names RESTATED entries of OUTGOING spec vintages as
    * (canonical spec, value) pairs — their content must be part of
    * `restated` (rewritten under the CURRENT spec: this is how DML
    * migrates old-vintage partitions after an
    * [[evolvePartitionSpec]]). `dropValues` stays CURRENT-spec
    * addressing, and the stray check is against it (every restated
    * row lands under the current layout). */
  /** `appendValues` names partition values whose fresh dirs are
    * ADDITIVE parts (carried entries of those values survive) — the
    * merge-on-read UPDATE's post-image rows land this way.
    * `dvEntries`/`dvPositions` attach DELETION VECTORS to carried
    * entries instead of restating them: `dvEntries` is the ordered
    * (entry dir → newly-deleted position count) list, `dvPositions`
    * one frame of ([[DvEntCol]] = index into that list, [[DvFileCol]],
    * [[DvPosCol]]) rows. The commit MERGES each entry's prior vector
    * (positions accumulate until a restatement folds them), writes one
    * sidecar dir per entry under the claimed snap dir, and drops an
    * entry outright when its vector covers every written row. Commit
    * cost of the DV side: O(deleted positions), never O(partition). */
  def restatePartitions(restated: DataFrame, root: String,
      dropValues: Set[String], partCol: String, sortCol: String,
      cdc: Option[DataFrame] = None,
      dropOld: Set[(String, String)] = Set.empty,
      appendValues: Set[String] = Set.empty,
      dvPositions: Option[DataFrame] = None,
      dvEntries: Seq[(String, Long)] = Nil): Long =
    withCommitLock(root) {
      val prior = current(root).getOrElse(
        throw new IllegalStateException(s"no snapshot at $root to restate"))
      checkLayout(Some(prior), partCol, sortCol, restated)
      val merged = prior.schema.map(mergeSchemas(_, restated.schema))
        .getOrElse(restated.schema)
      val id = allocateId(root)
      val fresh = writeSnapData(restated, root, id, partCol, sortCol,
        Some(merged))
      val stray = fresh.map(_.value)
        .filterNot(v => dropValues(v) || appendValues(v))
      require(stray.isEmpty,
        s"restatePartitions: rows landed in partitions ${stray.mkString(", ")} " +
          s"not named in dropValues/appendValues — the commit would " +
          "duplicate them")
      // the row-exact CDC sidecar (see [[changeFeed]]): written INSIDE
      // the exclusively-claimed snap dir before the pointer moves, so
      // a published commit either has its full sidecar or (crash
      // mid-write) never published at all — readers can't see a torn
      // changeset. A lost publish race orphans the sidecar together
      // with its data dirs; expire sweeps both.
      cdc.foreach(writeCdcSidecar(_, root, id, merged))
      // ---- deletion-vector attachment ----
      val dvK: Map[String, (Int, Long)] = dvEntries.zipWithIndex
        .map { case ((dir, delta), k) => dir -> (k, delta) }.toMap
      require(dvK.size == dvEntries.size,
        "restatePartitions: an entry dir appears twice in dvEntries")
      if (dvEntries.nonEmpty) {
        val byDir = prior.entries.map(e => e.dir -> e).toMap
        val unknown = dvK.keys.filterNot(byDir.contains)
        require(unknown.isEmpty, "restatePartitions: dvEntries name " +
          s"dirs absent from the manifest: ${unknown.mkString(", ")}")
        val spark = restated.sparkSession
        val deltas = dvPositions.getOrElse(throw new IllegalArgumentException(
          "restatePartitions: dvEntries without dvPositions"))
        // merge prior vectors: positions accumulate across DV commits,
        // so the live sidecar of an entry is always ONE dir — the
        // read-side anti-join stays a single broadcast
        val priorDv = dvK.toSeq.collect {
          case (dir, (k, _)) if byDir(dir).dv.isDefined =>
            dvFrame(spark, root, Seq(byDir(dir).dv.get.dir))
              .withColumn(DvEntCol, lit(k))
        }
        val all = (deltas.select(col(DvEntCol), col(DvFileCol),
          col(DvPosCol)) +: priorDv).reduce(_ unionByName _)
        // one task per entry's vector (AQE coalesces) — vectors are
        // fraction-capped small, and the partitioned write gives each
        // entry its own leaf dir to reference
        org.apache.spark.sql.GraftPlanBridge.withSessionConf(
          all.repartition(col(DvEntCol)),
          "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
          .write.mode("errorifexists").partitionBy(DvEntCol)
          .parquet(s"$root/data/snap-$id/_dv")
      }
      val dropOrDv = prior.entries.flatMap { e =>
        val dropped = e.spec match {
          case None => dropValues(e.value)
          case Some(s) => dropOld((canonicalSpec(s), e.value))
        }
        dvK.get(e.dir) match {
          case Some(_) if dropped => throw new IllegalArgumentException(
            s"restatePartitions: entry ${e.dir} is both restated " +
              "(dropValues/dropOld) and DV-attached — caller bug")
          case Some((k, delta)) =>
            val newRows = e.dv.map(_.rows).getOrElse(0L) + delta
            // a vector covering every written row = a fully-deleted
            // entry: drop it (exact — DV commits require stats)
            if (e.stats.exists(_.rows == newRows)) None
            else Some(e.copy(dv =
              Some(DvRef(s"data/snap-$id/_dv/$DvEntCol=$k", newRows))))
          case None => if (dropped) None else Some(e)
        }
      }
      commitManifest(root, Manifest(id, dropOrDv ++ fresh, Some(merged),
        prior.props ++ layoutProps(partCol, sortCol, restated)),
        seqOf(prior))
      id
    }

  /** Drop whole partitions as one METADATA-ONLY commit — the atomic
    * form of ClickHouse's `ALTER TABLE … DROP PARTITION` (an
    * extension: standard MergeTree operational practice, not in the
    * reference): the new manifest simply omits the dropped
    * values' entries and carries everything else by reference, so the
    * cost is one ~KB manifest write + pointer swap REGARDLESS of how
    * much data the partitions held (no file is touched; the dropped
    * dirs stay on disk for time travel until [[expire]]). `values`
    * of None drops EVERY partition (SQL `DELETE FROM t` / TRUNCATE):
    * legal — the table reads as a typed empty frame. Unknown values
    * are a no-op, matching DELETE semantics (deleting what isn't
    * there deletes nothing). */
  def dropPartitions(root: String,
      values: Option[Set[String]]): Long =
    withCommitLock(root) {
      val prior = current(root).getOrElse(
        throw new IllegalStateException(s"no snapshot at $root to delete from"))
      val kept = values match {
        case Some(vs) => prior.entries.filterNot(e => vs(e.value))
        case None => Seq.empty
      }
      require(prior.schema.isDefined || kept.nonEmpty,
        s"cannot drain $root: its manifests predate schema carrying, " +
          "so the empty table could not be typed")
      // deleting what isn't there must not burn a snapshot id or push
      // real history out of the retention window — a no-op DELETE is
      // answered from the current manifest, nothing committed
      if (kept == prior.entries) prior.id
      else {
        // the id claim dir stays EMPTY (a metadata-only commit writes
        // no data into it) and is deliberately NOT deleted here: an
        // immediate post-publish delete would let a concurrent host's
        // allocateId — which listed ids before our claim — reclaim the
        // published id and clobber the committed chain slot through
        // the shared hard-link inode. expire's grace-aware orphan
        // sweep removes it once the id is protected by its retained
        // manifest.
        val id = allocateId(root)
        commitManifest(root, Manifest(id, kept, prior.schema, prior.props),
          seqOf(prior))
        id
      }
    }

  /** Evolve the PARTITION SPEC for FUTURE commits — Iceberg-style
    * partition-spec evolution as a METADATA-ONLY commit: no data dir
    * is touched; every existing entry is stamped with the OUTGOING
    * spec (so its token keeps meaning what it meant), and the table's
    * recorded layout moves to `newSpec` — appends/inserts land under
    * the new layout from the next commit on, readers union entries
    * across vintages (they never address by token), row-level
    * UPDATE/DELETE discover per entry-spec and MIGRATE the partitions
    * they touch to the new layout, and [[compact]] (a full rewrite)
    * migrates everything. A 100 TB corpus that starts month-partitioned
    * and later needs `month,bucket(16,id)` evolves in one ~KB commit
    * instead of a full rewrite. The sort column may change with the
    * spec (`newSortCol`) — it is advisory per-dir layout, not an
    * addressing key. Returns the committed snapshot id. */
  def evolvePartitionSpec(root: String, newSpec: String,
      newSortCol: Option[String] = None): Long = withCommitLock(root) {
    val (prior, schema) = headWithSchema(root, "evolve", "evolving the spec")
    val (oldSpec, oldSort) = tableLayout(prior).getOrElse(
      throw new IllegalStateException(
        s"table at $root predates layout-recording manifests — " +
          "recommit with a full write before evolving the spec"))
    // resolve source columns case-insensitively and NORMALIZE to the
    // schema's casing (like createEmpty) — a typo'd column must refuse
    // AT THIS metadata-only commit, not at some later write
    def resolve(c: String): String =
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"evolvePartitionSpec: column '$c' is not in the schema: " +
            schema.fieldNames.mkString(", ")))
    val parsed = PartitionSpec(PartitionSpec.parse(newSpec).fields.map {
      case PartitionSpec.Identity(c) => PartitionSpec.Identity(resolve(c))
      case PartitionSpec.Bucket(n, c) => PartitionSpec.Bucket(n, resolve(c))
      case PartitionSpec.TimeUnit(u, c) =>
        PartitionSpec.TimeUnit(u, resolve(c))
      case PartitionSpec.Truncate(w, c) =>
        PartitionSpec.Truncate(w, resolve(c))
    })
    parsed.validate(schema)
    val canon = parsed.canonical
    val oldCanon = canonicalSpec(oldSpec)
    val sortCol = newSortCol.getOrElse(oldSort)
    require(schema.fieldNames.contains(sortCol),
      s"evolvePartitionSpec: sort column '$sortCol' is not in the schema")
    require(canon != oldCanon || sortCol != oldSort,
      s"evolvePartitionSpec: the table already has layout " +
        s"($oldCanon, $oldSort) — nothing to evolve")
    // stamp the outgoing spec on every entry that was current until
    // now; entries already stamped (an earlier evolution) keep theirs.
    // A SORT-ONLY evolution (same partition spec) changes no token
    // meaning — stamping would needlessly poison the table into
    // mixed-spec mode (refusing MERGE/overwrite until a compaction)
    val entries =
      if (canon == oldCanon) prior.entries
      else prior.entries.map(e =>
        if (e.spec.isDefined) e else e.copy(spec = Some(oldCanon)))
    val id = allocateId(root)
    commitManifest(root, Manifest(id, entries, Some(schema),
      prior.props + (PartColProp -> canon) + (SortColProp -> sortCol)),
      seqOf(prior))
    id
  }

  /** Does the current manifest hold entries of an OUTGOING spec
    * vintage (committed before an [[evolvePartitionSpec]])? The write
    * paths that address partitions BY VALUE under the current spec
    * must take the spec-aware route (or refuse) on such tables. */
  private[graft] def hasMixedSpecs(m: Manifest): Boolean =
    m.entries.exists(_.spec.isDefined)

  /** Every spec addressing entries of THIS manifest: the current
    * layout plus any outgoing vintages stamped on entries. Schema
    * DDL (drop/widen/rename) must honor all of them — a column that
    * left the current spec via evolution still keys the stamped
    * entries' tokens until DML/compaction migrates them. */
  private def specsInPlay(m: Manifest): Seq[String] =
    (tableLayout(m).map(_._1).toSeq ++ m.entries.flatMap(_.spec)).distinct

  /** Read exactly the entries `keep` selects — the ENTRY-granular
    * sibling of [[readWhere]] for mixed-spec tables, where a bare
    * value can be ambiguous across spec vintages. */
  private[graft] def readEntriesWhere(spark: SparkSession, root: String,
      keep: Entry => Boolean): DataFrame = {
    val m = current(root)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    readManifest(spark, root,
      // props carry: equality deletes ride the props, and a filtered
      // read must still anti-apply them
      Manifest(m.id, m.entries.filter(keep), m.schema, m.props))
  }

  /** Compaction as a snapshot commit: rewrite the CURRENT snapshot's
    * content into fresh one-file-per-partition dirs and swap the
    * pointer — in place at the table root, yet readers on the old
    * manifest are untouched (old dirs are immutable; [[expire]] is the
    * only deleter). This is the contract the in-place
    * [[MergeTreeWriter.compact]] cannot offer. Holds the commit lock
    * across read+rewrite so an interleaved backfill can't be reverted
    * by a compaction of the snapshot that preceded it. */
  def compact(spark: SparkSession, root: String, partCol: String,
      sortCol: String): Long = withCommitLock(root) {
    // noRowChange: a compaction rewrites LAYOUT, not rows — its empty
    // CDC sidecar keeps the per-commit change feed silent for it
    // (Delta's dataChange=false), instead of emitting the whole table
    // as delete+insert churn
    writeLocked(read(spark, root), root, partCol, sortCol,
      noRowChange = true)
  }

  /** Default [[rewriteDataFiles]] file-size target (Iceberg's
    * `write.target-file-size-bytes` default neighborhood). */
  private[graft] val DefaultRewriteTargetBytes: Long = 128L * 1024 * 1024

  /** Targeted table maintenance — the 100 TB form of [[compact]]
    * (Iceberg `rewrite_data_files` / Delta `OPTIMIZE` economics, an
    * extension; the reference's analogue is MergeTree's background
    * part merging, README.md:547-548): restate ONLY the entries that
    * need maintenance and carry every other entry BY REFERENCE —
    * byte-identical dirs, no read, no write, no shuffle. A full
    * [[compact]] of a 100 TB table is a 100 TB job; a nightly rewrite
    * of the day's dirty partitions is O(dirty data).
    *
    * An entry is DIRTY when any of: (a) its partition value holds
    * multiple parts (append accumulation — fold them); (b) it carries
    * a live deletion vector (fold it into clean files, which also
    * lifts the `format.reader` era once the last vector goes); (c) it
    * is stamped with an outgoing spec vintage (migrate it to the
    * current layout); (d) its file count sits far off the
    * `targetFileBytes` binpack ideal. Size dirtiness uses a factor-2
    * hysteresis band (count > 2×ideal, or count < ideal/2) so a
    * freshly rewritten entry is CLEAN under the same target — a
    * second invocation is a no-op returning the unchanged head id,
    * with no commit.
    *
    * Rewritten values binpack to ≈`targetFileBytes` files (sliced by
    * a deterministic sort-key hash; each slice internally sorted by
    * the table sort column — MergeTree-part-shaped runs), sized on
    * LIVE bytes (vector-deleted rows don't count). Like [[compact]],
    * the commit is a pure REWRITE: same rows, new layout — its CDC
    * sidecar is empty (`dataChange = false`) and time travel still
    * reads the prior layout. Holds the commit lock across
    * read+rewrite, so an interleaved writer can't be reverted.
    *
    * `where` selects candidates by the entry's OWN rendered partition
    * value (an old-vintage entry by its outgoing spec's rendering). */
  def rewriteDataFiles(spark: SparkSession, root: String,
      where: String => Boolean = _ => true,
      targetFileBytes: Long = DefaultRewriteTargetBytes,
      onlyDirty: Boolean = true): Long = withCommitLock(root) {
    require(targetFileBytes > 0,
      s"rewriteDataFiles: targetFileBytes must be positive, " +
        s"got $targetFileBytes")
    val prior = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val schema = prior.schema.getOrElse(throw new IllegalStateException(
      s"table at $root records no schema — cannot rewrite"))
    val partCol = prior.props.getOrElse(PartColProp,
      throw new IllegalStateException(
        s"table at $root records no partition layout — cannot rewrite"))
    val sortCol = prior.props.getOrElse(SortColProp,
      throw new IllegalStateException(
        s"table at $root records no sort layout — cannot rewrite"))
    // one listing per entry dir: dirty() and the slice plan both need
    // (count, bytes) — on object-store-like backends the metadata
    // round-trip is the cost, so memoize
    val dataFilesMemo =
      scala.collection.mutable.HashMap.empty[String, Seq[java.io.File]]
    def dataFiles(e: Entry): Seq[java.io.File] =
      dataFilesMemo.getOrElseUpdate(e.dir, {
        val d = new java.io.File(s"$root/${e.dir}")
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      })
    def ideal(bytes: Long): Long =
      math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    // parts per VALUE — a value with several entries folds to one
    val partsOf: Map[String, Int] =
      prior.entries.groupMapReduce(_.value)(_ => 1)(_ + _)
    val eqs = eqDeletesOf(prior)
    def dirty(e: Entry): Boolean =
      e.dv.isDefined || e.spec.isDefined || partsOf(e.value) > 1 ||
      // an applicable equality delete: rewriting folds it in (the
      // fresh entry is born after the delete), and once every old
      // entry is rewritten commitManifest auto-prunes the delete
      eqs.exists(_.id > birthOf(e)) || {
        val fs = dataFiles(e)
        val n = ideal(fs.map(_.length).sum)
        fs.size > 2 * n || 2L * fs.size < n
      }
    val selected = prior.entries
      .filter(e => where(e.value) && (!onlyDirty || dirty(e)))
    if (selected.isEmpty) prior.id
    else {
      // binpack plan: TOTAL planned file count = Σ per selected
      // VALUE's live-byte ideal (parts of a value fold together;
      // vector-deleted rows don't count). Range partitioning on
      // (value, sort) balances rows across that many writers, so each
      // value lands ≈ its own share of files.
      val totalSlices = selected.groupBy(_.value).map { case (_, es) =>
        ideal(es.map { e =>
          val b = dataFiles(e).map(_.length).sum
          (liveRows(e), e.stats.map(_.rows)) match {
            // double arithmetic: b * lr overflows Long at TB-dir ×
            // 1e10-row scale, which would collapse the slice plan to 1
            case (Some(lr), Some(tot)) if tot > 0 =>
              (b.toDouble * lr / tot).toLong
            case _ => b
          }
        }.sum)
      }.sum.min(Int.MaxValue.toLong).toInt
      // equality deletes resolve INSIDE the rewrite read — the fresh
      // entries are born after them, so a raw read here would
      // resurrect every displaced row of the rewritten partitions
      val live = applyEqDeletes(spark, root,
        readEntriesWithPositions(spark, root, schema, selected),
        eqs, schema)
        .drop(DvFileCol, DvPosCol)
      val id = allocateId(root)
      val fresh = writeSnapData(live, root, id, partCol, sortCol,
        Some(schema), slices = Some(totalSlices))
      // pure rewrite: empty CDC sidecar keeps the change feed silent
      Files.createDirectories(cdcDirOf(root, id))
      val selDirs = selected.map(_.dir).toSet
      commitManifest(root,
        Manifest(id, prior.entries.filterNot(e => selDirs(e.dir)) ++ fresh,
          Some(schema), prior.props), seqOf(prior))
      id
    }
  }

  // ---- readers -----------------------------------------------------------

  /** Read the current snapshot (or a retained one via `asOf`): resolve
    * the pointer once, then plan one multi-root parquet scan over
    * exactly the dirs that manifest lists. */
  def read(spark: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    val m = asOf.map(manifestAt(root, _)).orElse(current(root))
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    readManifest(spark, root, m)
  }

  /** Manifest-entry pruning: partition pruning decided on the ~KB
    * manifest, before any file listing — at 100 TB a one-month read
    * plans one directory. The predicate sees the REAL partition value
    * (unescaped); a prune keeping nothing returns an EMPTY frame with
    * the table schema, like any other no-matching-partition query. */
  def readWhere(spark: SparkSession, root: String,
      keep: String => Boolean): DataFrame = {
    val m = current(root)
      .getOrElse(throw new IllegalStateException(s"no snapshot at $root"))
    readManifest(spark, root,
      Manifest(m.id, m.entries.filter(e => keep(e.value)), m.schema,
        m.props))
  }

  // ---- deletion-vector read plumbing ---------------------------------------

  /** DV sidecar columns: the deleted row's FILE (the path suffix from
    * `data/snap-` on — unique within a table, robust to root moves)
    * and its physical ROW INDEX inside that file (parquet
    * `_metadata.row_index`). Both sides — the DV writer and the
    * anti-applying reader — derive the pair from the same metadata
    * columns, so they can never disagree on spelling. */
  private[graft] val DvFileCol = "__dv_file"
  private[graft] val DvPosCol = "__dv_pos"
  private[graft] val DvEntCol = "__dvent"

  private def dvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DvFileCol,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvPosCol,
      org.apache.spark.sql.types.LongType)))

  /** The union of DV sidecars at `dirs` (each a per-entry
    * `__dvent=k` leaf dir). */
  private def dvFrame(spark: SparkSession, root: String,
      dirs: Seq[String]): DataFrame =
    spark.read.schema(dvSchema).parquet(dirs.map(d => s"$root/$d"): _*)

  /** The (file, position) identity of every row scanned — the columns
    * DV application anti-joins on and DV creation records.
    * `_metadata.file_path` is a URI: the on-disk `%`-escaped partition
    * dir names (`__part=2024-01%2F3`) arrive double-encoded
    * (`%252F`), so the path is percent-DECODED back to the raw
    * filesystem spelling — the spelling manifest entry dirs use, which
    * is what lets the DML paths attribute a row to its entry by
    * prefix. A literal `+` is protected first (url_decode would turn
    * it into a space; URI encoding never produces `+`). */
  private def withRowIdentity(df: DataFrame): DataFrame = df
    .withColumn(DvFileCol,
      regexp_extract(
        url_decode(regexp_replace(col("_metadata.file_path"),
          lit("\\+"), lit("%2B"))),
        "data/snap-.*$", 0))
    .withColumn(DvPosCol, col("_metadata.row_index"))

  /** Read `entries` (data columns under LOGICAL names, schema order)
    * plus the row-identity columns, with every entry's deletion vector
    * ANTI-APPLIED: a broadcast left-anti join against the (tiny by the
    * write-path's fraction cap) DV set — at scale this is a map-side
    * filter over the data scan, no shuffle of the data. The row-level
    * DML paths read through this to (a) never match already-deleted
    * rows and (b) learn the positions of the rows they delete. */
  private[graft] def readEntriesWithPositions(spark: SparkSession,
      root: String, schema: org.apache.spark.sql.types.StructType,
      entries: Seq[Entry]): DataFrame = {
    val outCols = logicalProjection(schema) :+
      col(DvFileCol) :+ col(DvPosCol)
    if (entries.isEmpty) {
      val out = org.apache.spark.sql.types.StructType(
        schema.fields ++ dvSchema.fields)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    }
    val raw = withRowIdentity(spark.read
      .schema(physicalSchema(schema))
      .parquet(entries.map(e => s"$root/${e.dir}"): _*))
    val dvDirs = entries.flatMap(_.dv).map(_.dir)
    val live =
      if (dvDirs.isEmpty) raw
      else raw.join(broadcast(dvFrame(spark, root, dvDirs)),
        Seq(DvFileCol, DvPosCol), "left_anti")
    live.select(outCols: _*)
  }

  /** First three path segments of a row-identity file =
    * `data/snap-<id>/__part=<tok>` = exactly the manifest entry dir
    * (dir names never contain '/': escapePathName escapes it inside
    * tokens). The DML paths attribute a scanned row to its ENTRY with
    * this — uniform across partition-spec vintages and free of any
    * token re-rendering. */
  private[graft] def entryDirCol: Column =
    substring_index(col(DvFileCol), "/", 3)

  /** Read a manifest WITH deletion vectors applied — the DSV2 DV
    * rewrite rule's body ([[graft.plans.SnapshotDvReadRewrite]]);
    * identical to the internal manifest read. */
  private[graft] def readManifestResolved(spark: SparkSession,
      root: String, m: Manifest): DataFrame = readManifest(spark, root, m)

  /** Anti-apply equality deletes to a frame still carrying the
    * row-identity columns ([[DvFileCol]]): a row BORN BEFORE an
    * equality delete whose key tuple matches is dropped. One
    * broadcast anti-join per distinct key-column set (normally one).
    * Sidecars spell PHYSICAL names; the frame spells LOGICAL — the
    * join translates through the schema's mapping, so displacement
    * survives renames. Sidecar key types read under the CURRENT
    * logical type (widening-safe, same argument as data files). */
  private[graft] def applyEqDeletes(spark: SparkSession, root: String,
      df: DataFrame, eqs: Seq[EqDeleteRef],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    if (eqs.isEmpty) return df
    val logicalOfM = physMapOf(schema).map(_.swap)
    val birth = regexp_extract(col(DvFileCol), "^data/snap-(\\d+)/", 1)
      .cast("long")
    eqs.groupBy(_.cols).toSeq.sortBy(_._1.mkString(","))
      .foldLeft(df) { case (acc, (physCols, group)) =>
        val pairs = physCols.map(p => p -> logicalOfM.getOrElse(p, p))
        val keySchema = org.apache.spark.sql.types.StructType(
          pairs.map { case (p, l) =>
            org.apache.spark.sql.types.StructField(p,
              schema(schema.fieldIndex(l)).dataType) })
        val eqf = group.map { r =>
          spark.read.schema(keySchema).parquet(s"$root/${r.dir}")
            .withColumn("__eq_commit", lit(r.id))
        }.reduce(_ unionByName _)
        val renamed = pairs.zipWithIndex.foldLeft(eqf) {
          case (d, ((p, _), i)) => d.withColumnRenamed(p, s"__eqk_$i")
        }
        val keyEq = pairs.zipWithIndex.map { case ((_, l), i) =>
          acc.col(quoted(l)) === renamed.col(s"__eqk_$i")
        }.reduce(_ && _)
        acc.join(broadcast(renamed),
          keyEq && renamed.col("__eq_commit") > birth, "left_anti")
      }
  }

  private def readManifest(spark: SparkSession, root: String,
      m: Manifest): DataFrame = {
    // EQUALITY DELETES resolve first: the whole table reads with row
    // identity (DVs anti-applied inside), displaced rows drop, then
    // the identity columns project away. Stripped sub-manifests built
    // below carry no props, so the recursion never re-enters here.
    val eqs = eqDeletesOf(m)
    if (eqs.nonEmpty) {
      val schema = m.schema.getOrElse(throw new IllegalStateException(
        s"snapshot at $root carries equality deletes but no schema — " +
          "corrupt manifest"))
      return applyEqDeletes(spark, root,
        readEntriesWithPositions(spark, root, schema, m.entries),
        eqs, schema)
        .select(schema.fieldNames.toIndexedSeq.map(n => col(quoted(n))): _*)
    }
    val (dved, undved) = m.entries.partition(_.dv.isDefined)
    if (dved.nonEmpty) {
      // DV-bearing entries anti-apply their vectors; DV-less entries
      // keep the plain multi-root scan — the two sides union under the
      // manifest schema (DVs are only ever written on schema-carrying
      // tables, so the schema is always present here)
      val schema = m.schema.getOrElse(throw new IllegalStateException(
        s"snapshot at $root carries deletion vectors but no schema — " +
          "corrupt manifest"))
      val applied = readEntriesWithPositions(spark, root, schema, dved)
        .select(schema.fieldNames.toIndexedSeq.map(n => col(quoted(n))): _*)
      return if (undved.isEmpty) applied
      else readManifest(spark, root, m.copy(entries = undved))
        .unionByName(applied)
    }
    // zero entries is a LEGAL table state, not an error: a prune can
    // keep no partitions, and a MERGE whose deletes drain every
    // remaining partition commits an entries-empty manifest (the
    // alternative — refusing the commit — would wedge a legal DELETE;
    // refusing the READ would wedge the table until a full rewrite).
    // Both read as an empty frame under the manifest schema.
    if (m.entries.isEmpty) {
      val schema = m.schema.getOrElse(throw new IllegalStateException(
        s"snapshot ${m.id} at $root lists no data and predates " +
          "schema-carrying manifests — cannot type the empty result"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      val paths = m.entries.map(e => s"$root/${e.dir}")
      m.schema match {
        // a renamed table plans under the PHYSICAL schema (what every
        // file of every era spells) and projects back to the logical
        // names — an alias projection (plus a struct rebuild where a
        // NESTED rename demands it), pushdown flows through it
        case Some(s) if hasMapping(s) =>
          spark.read.schema(physicalSchema(s)).parquet(paths: _*)
            .select(logicalProjection(s): _*)
        // the manifest schema applies to every dir it lists: columns a
        // pre-evolution dir's files lack read as null — O(1), decided on
        // the manifest, no per-file footer merge (mergeSchema would read
        // every footer; at 100 TB that is a listing-scale job of its own)
        case Some(s) => spark.read.schema(s).parquet(paths: _*)
        case None => spark.read.parquet(paths: _*)
      }
    }
  }

  // ---- row-exact CDC sidecars ----------------------------------------------

  /** Directory name of a commit's CDC sidecar inside its snap dir. */
  private[graft] val CdcDirName = "_cdc"

  /** The CDC sidecar dir of manifest `id` — INSIDE the exclusively
    * claimed `data/snap-<id>` dir, so no cross-host race and no extra
    * retention bookkeeping: the sidecar lives exactly as long as its
    * commit's manifest is retained ([[expire]] pins cdc-bearing snap
    * dirs of retained manifests even when the commit's own entries
    * reference none of them — a DELETE that drained every touched
    * partition). */
  private[graft] def cdcDirOf(root: String, id: Long): Path =
    Paths.get(root, "data", s"snap-$id", CdcDirName)

  /** Persist a row-exact changeset for the commit being built: the
    * data columns plus `_change_type`
    * (`insert`/`update_preimage`/`update_postimage`/`delete` — Delta
    * CDF's row set). An EMPTY frame (or the bare marker dir a
    * `noRowChange` rewrite creates) is meaningful: "this commit
    * changed no rows", which silences the feed for it. */
  private def writeCdcSidecar(cdc: DataFrame, root: String, id: Long,
      tableSchema: org.apache.spark.sql.types.StructType): Unit = {
    val cols = cdc.columns.toSet
    require(cols.contains("_change_type"),
      "CDC sidecar frame must carry a _change_type column")
    val unknown = cols - "_change_type" -- tableSchema.fieldNames.toSet
    require(unknown.isEmpty,
      s"CDC sidecar frame carries columns outside the table schema: " +
        unknown.mkString(", "))
    // sidecar files use PHYSICAL column names (every level), like
    // every data file — a later rename re-keys the feed's read
    // projection only; _change_type is outside the schema and passes
    // through untouched
    val physed = physicalizeFrame(cdc, tableSchema)
    // errorifexists: the _cdc dir lives inside the exclusively-claimed
    // snap dir and is written exactly once per commit — append mode
    // would pre-list the (nonexistent) path and WARN noisily, and a
    // second write here is a bug worth failing on
    org.apache.spark.sql.GraftPlanBridge.withSessionConf(physed,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
      .write.mode("errorifexists").parquet(cdcDirOf(root, id).toString)
  }

  /** Read a commit's CDC sidecar under the given table schema (missing
    * columns — evolution after the sidecar was written — read as
    * null, same as any manifest read). Files carry PHYSICAL names;
    * the result projects back to logical, like any manifest read. */
  private def readCdcSidecar(spark: SparkSession, root: String, id: Long,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val withCt = StructType(schema.fields :+
      StructField("_change_type", StringType))
    if (!hasMapping(schema))
      spark.read.schema(withCt).parquet(cdcDirOf(root, id).toString)
    else
      spark.read.schema(StructType(physicalSchema(schema).fields :+
          StructField("_change_type", StringType)))
        .parquet(cdcDirOf(root, id).toString)
        .select(withCt.fields.toIndexedSeq.map { f =>
          if (f.name == "_change_type") col("_change_type")
          else logicalCol(f, col(quoted(physName(f)))).as(f.name)
        }: _*)
  }

  /** Batch CHANGE FEED between two committed chain sequences — the
    * table-format CDF read (Delta `table_changes` analogue), replayed
    * PER COMMIT: for each chain step (s-1, s] in the range,
    *   - a DML commit (row-level UPDATE/DELETE, MERGE) emits its
    *     row-exact CDC sidecar — `update_preimage`/`update_postimage`/
    *     `delete`/`insert` rows persisted at commit time from the
    *     already-materialized changeset, NOT the wholesale restated
    *     partitions;
    *   - a compaction emits NOTHING (empty sidecar = no row changed,
    *     Delta's dataChange=false);
    *   - any other commit emits the step's dir diff: new dirs tagged
    *     `insert`, dropped dirs tagged `delete` — so an append is
    *     exactly the appended rows, a backfill/rollback is delete(old
    *     content) + insert(new), a partition DELETE is deletes only.
    * Apply as retract-then-upsert. Cost: one ~KB manifest parse per
    * commit in the range (bounded by retention) + one multi-root scan
    * over exactly the changed dirs/sidecars. Both ENDPOINTS must be
    * within the retention horizon ([[manifestAtSeq]] fails loudly
    * otherwise); if an INTERMEDIATE commit was expired (a pinned-tag
    * endpoint far behind the head), the feed falls back to the
    * endpoint-wholesale dir diff — net-correct, but changes that
    * cancelled out within the range coalesce away (a WARN says so).
    * Rows read under the TO endpoint's schema (evolution: dropped
    * rows' missing columns read as null). */
  def changeFeed(spark: SparkSession, root: String, fromSeq: Long,
      toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq,
      s"changeFeed range is inverted: fromSeq=$fromSeq > toSeq=$toSeq")
    val a = manifestAtSeq(root, fromSeq)
    val b = manifestAtSeq(root, toSeq)
    // typing an EMPTY side (or an empty range, e.g. a poller calling
    // changeFeed(0, 0) before the first commit) needs a schema: the TO
    // endpoint's, else FROM's, else the live table's — only a
    // pre-schema legacy table can fail, and it fails with the cause
    val schemaOpt = b.schema.orElse(a.schema)
      .orElse(current(root).flatMap(_.schema))
    if (schemaOpt.isEmpty)
      throw new IllegalStateException(
        s"changeFeed at $root: no endpoint (nor the live table) " +
          "carries a schema — manifests predate schema-carrying " +
          "commits, so an empty side cannot be typed")
    // case-INSENSITIVE: Spark resolution is case-insensitive by
    // default, so withColumn("_change_type", …) would replace a
    // pre-existing _CHANGE_TYPE column too
    require(!schemaOpt.exists(_.fieldNames.exists(
        _.equalsIgnoreCase("_change_type"))),
      "changeFeed cannot tag a table that already has a _change_type " +
        "column — the tag would silently overwrite it")
    val schema = schemaOpt
    def diff(mA: Manifest, mB: Manifest): DataFrame = {
      // entry identity for the diff is (dir, deletion vector): an entry
      // whose DV grew between the endpoints changed content without
      // changing dirs — it re-emits as delete(old live rows) +
      // insert(new live rows), coarse but net-correct under
      // retract-then-upsert (the per-commit sidecar replay above is
      // the row-exact path). Sides read DV-APPLIED, so rows deleted at
      // an endpoint never leak into its side of the diff.
      // EQUALITY DELETES join the identity: an entry whose applicable
      // eq-delete set grew between the endpoints changed content
      // without changing dirs — it re-emits delete(old live rows) +
      // insert(new live rows), coarse but net-correct like a DV
      // growth. Applicable = deletes committed after the entry's
      // birth.
      def eqIds(m: Manifest, e: Entry): Set[Long] =
        eqDeletesOf(m).filter(_.id > birthOf(e)).map(_.id).toSet
      def key(m: Manifest, e: Entry) = (e.dir, e.dv, eqIds(m, e))
      val aKeys = mA.entries.map(key(mA, _)).toSet
      val bKeys = mB.entries.map(key(mB, _)).toSet
      def side(m: Manifest, other: Set[(String, Option[DvRef], Set[Long])],
          tag: String): DataFrame =
        readManifest(spark, root, Manifest(0L,
          m.entries.filterNot(e => other(key(m, e)))
            .sortBy(_.dir), schema, m.props))
          .withColumn("_change_type", lit(tag))
      side(mB, aKeys, "insert").unionByName(side(mA, bKeys, "delete"))
    }
    // per-commit replay; None = an intermediate slot was expired
    val steps: Option[Seq[DataFrame]] =
      try {
        var prev = a
        Some((fromSeq + 1 to toSeq).map { s =>
          val m = manifestAtSeq(root, s)
          val step =
            if (Files.isDirectory(cdcDirOf(root, m.id)))
              readCdcSidecar(spark, root, m.id, schema.get)
            else diff(prev, m)
          prev = m
          step
        })
      } catch {
        case e: IllegalStateException =>
          System.err.println(
            s"[snapshot] WARN: changeFeed($fromSeq, $toSeq) at $root " +
              s"cannot replay per-commit (${e.getMessage}) — emitting " +
              "the endpoint-wholesale dir diff instead; changes that " +
              "cancelled out within the range are coalesced away")
          None
      }
    steps match {
      case Some(fs) if fs.nonEmpty => fs.reduce(_ unionByName _)
      case _ => diff(a, b) // empty range → typed empty frame
    }
  }

  /** ROLL the table BACK to its state at chain sequence `toSeq`, as a
    * NEW commit (the Delta `RESTORE` / Iceberg `rollback_to_snapshot`
    * analogue; ClickHouse operational practice via backup restore — an
    * extension, not in the reference). Never rewinds the chain: the
    * restored state publishes at head+1, so history stays append-only,
    * readers between the bad commits and the rollback stay coherent,
    * and the rolled-back commits remain time-travel-visible until
    * [[expire]]. The restored manifest carries the TARGET's entries,
    * schema and layout props (its partition tokens belong to that
    * layout), but keeps the HEAD's streaming idempotence tokens — a
    * rolled-back stream batch re-delivered after the rollback must
    * stay a no-op (the operator rolled those rows back deliberately;
    * re-appending them behind their back would undo the restore).
    * Rolling back TO the current head is a no-op that commits nothing;
    * a `toSeq` past the retention horizon fails loudly
    * ([[manifestAtSeq]]'s tombstone error). Cross-host safe: the
    * publish claims head+1 through the chain CAS like any commit. */
  def rollback(root: String, toSeq: Long): Long = withCommitLock(root) {
    val prior = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root to roll back"))
    val headSeq = seqOf(prior)
    require(toSeq >= 1 && toSeq <= headSeq,
      s"rollback target seq $toSeq is outside this table's history " +
        s"(head is seq $headSeq)")
    if (toSeq == headSeq) prior.id
    else {
      val target = manifestAtSeq(root, toSeq)
      val id = allocateId(root)
      val tokens = prior.props.filter(_._1.startsWith(AppendTokenPrefix))
      commitManifest(root,
        Manifest(id, target.entries, target.schema, target.props ++ tokens),
        headSeq)
      id
    }
  }

  // ---- tags (named retained commits) ---------------------------------------

  /** A tag: an IMMUTABLE name for a committed table state (Iceberg
    * tags / Delta named snapshots; ClickHouse pins states via backups
    * — an extension, not in the reference). `seq` addresses the chain,
    * `id` the manifest file — both recorded so resolution survives
    * either view. */
  final case class TagRef(seq: Long, id: Long)

  private val TagNameRe = "[A-Za-z0-9][A-Za-z0-9._-]*".r

  private def tagFile(root: String, name: String): Path =
    Paths.get(root, "refs", s"tag-$name")

  /** Name commit `seq` — exclusive create (a tag never moves; re-tag =
    * untag + tag, deliberately two operator actions). The tagged
    * commit's manifest, chain slot and data dirs are all PINNED by
    * [[expire]] until the tag is removed, so `VERSION AS OF '<name>'`
    * keeps resolving at any retention policy. */
  def tag(root: String, name: String, seq: Long): Long = {
    require(TagNameRe.matches(name),
      s"tag name '$name' must match ${TagNameRe.regex}")
    // an all-digit name could never be resolved: `VERSION AS OF '7'`
    // reads as manifest id 7 first — reject at creation, not at the
    // silent-wrong-snapshot read
    require(name.toLongOption.isEmpty,
      s"tag name '$name' is all digits — ambiguous with a manifest id " +
        "in VERSION AS OF; include a letter")
    // seq 0 is manifestAtSeq's empty pre-table state, not a commit
    require(seq >= 1L,
      s"tag '$name': seq $seq is not a commit — chain seqs start at 1")
    withCommitLock(root) {
      val m = manifestAtSeq(root, seq) // loud on gaps / expired slots
      Files.createDirectories(Paths.get(root, "refs"))
      val f = tagFile(root, name)
      try Files.write(f,
        s"seq=$seq\nid=${m.id}\n".getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"tag '$name' already exists at $root — tags are " +
              "immutable; untag first to move it")
      }
      fsyncDir(Paths.get(root, "refs"), s"tag $name at $root")
      m.id
    }
  }

  /** Remove a tag; the commit it named ages out via [[expire]] like
    * any other. Returns whether the tag existed. */
  def untag(root: String, name: String): Boolean =
    withCommitLock(root) {
      val existed = Files.deleteIfExists(tagFile(root, name))
      if (existed)
        fsyncDir(Paths.get(root, "refs"), s"untag $name at $root")
      existed
    }

  /** All tags, name-sorted. Unreadable/corrupt ref files are skipped
    * (never fail a listing on one bad file). */
  def tags(root: String): Map[String, TagRef] = {
    val dir = Paths.get(root, "refs")
    if (!Files.exists(dir)) return Map.empty
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.Map[String, TagRef]()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("tag-")) scala.util.Try {
          val kv = Files.readString(p, StandardCharsets.UTF_8)
            .split("\n").filter(_.contains("="))
            .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
          buf(n.stripPrefix("tag-")) =
            TagRef(kv("seq").toLong, kv("id").toLong)
        }
      }
      buf.toMap
    } finally s.close()
  }

  /** Resolve a tag to its manifest (the `VERSION AS OF '<name>'`
    * path): by manifest id — pinned by expire, so this works at any
    * retention policy while the tag lives. */
  def resolveTag(root: String, name: String): Manifest = {
    val all = tags(root)
    all.get(name) match {
      case Some(ref) => manifestAt(root, ref.id)
      case None => throw new IllegalArgumentException(
        s"no tag '$name' at $root — tags: " +
          all.keys.toSeq.sorted.mkString(", "))
    }
  }

  // ---- branches (write-audit-publish) --------------------------------------

  /** A BRANCH: a named MUTABLE head for staging commits main readers
    * must never see — the write-audit-publish primitive (Iceberg
    * branches / Nessie; an extension, not in the reference). Unlike
    * the main head, a branch head is a plain ref file: branch commits
    * write ordinary manifest files but claim NO chain slot, so the
    * main chain walk — every main reader's resolution path — is
    * structurally unable to surface them. `fork` records the MAIN
    * chain seq the branch was cut at: [[fastForward]] publishes the
    * branch head onto main only while main still stands at the fork
    * (a true fast-forward; anything else refuses — merging diverged
    * histories is a data decision, not a pointer move).
    *
    * The WAP loop: `branch(root, "audit")` → [[appendToBranch]] /
    * [[resetBranch]] under validation → [[fastForward]] — bad commits
    * die on the branch, main readers see nothing until the publish,
    * and the publish is one ordinary chain commit. */
  final case class BranchRef(name: String, id: Long, fork: Long)

  private def branchFile(root: String, name: String): Path =
    Paths.get(root, "refs", s"branch-$name")

  private def writeBranchRef(root: String, ref: BranchRef): Unit = {
    Files.createDirectories(Paths.get(root, "refs"))
    val tmp = Paths.get(root, "refs", s".branch-${ref.name}.tmp")
    fsyncWriteBytes(tmp,
      s"id=${ref.id}\nfork=${ref.fork}\n".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, branchFile(root, ref.name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    fsyncDir(Paths.get(root, "refs"), s"branch ${ref.name} at $root")
  }

  /** All branches, name-sorted; unreadable ref files are skipped. */
  def branches(root: String): Map[String, BranchRef] = {
    val dir = Paths.get(root, "refs")
    if (!Files.exists(dir)) return Map.empty
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val buf = scala.collection.mutable.Map[String, BranchRef]()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("branch-") && !n.endsWith(".tmp"))
          scala.util.Try {
            val kv = Files.readString(p, StandardCharsets.UTF_8)
              .split("\n").filter(_.contains("="))
              .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
            val name = n.stripPrefix("branch-")
            buf(name) = BranchRef(name, kv("id").toLong, kv("fork").toLong)
          }
      }
      buf.toMap
    } finally s.close()
  }

  private def branchRef(root: String, name: String): BranchRef =
    branches(root).getOrElse(name, throw new IllegalArgumentException(
      s"no branch '$name' at $root — branches: " +
        branches(root).keys.toSeq.sorted.mkString(", ")))

  /** Cut branch `name` at the CURRENT main head. Exclusive create —
    * re-branching a live name refuses (drop it first). */
  def branch(root: String, name: String): BranchRef =
    withCommitLock(root) {
      require(TagNameRe.matches(name),
        s"branch name '$name' must match ${TagNameRe.regex}")
      val head = current(root).getOrElse(throw new IllegalStateException(
        s"no snapshot at $root to branch"))
      require(!branches(root).contains(name),
        s"branch '$name' already exists at $root — drop it first")
      require(!Files.exists(branchFile(root, name)),
        s"branch '$name' already exists at $root — drop it first")
      val ref = BranchRef(name, head.id, seqOf(head))
      // exclusive create, then the atomic-replace writer for updates
      Files.createDirectories(Paths.get(root, "refs"))
      try Files.write(branchFile(root, name),
        s"id=${ref.id}\nfork=${ref.fork}\n".getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new IllegalStateException(
            s"branch '$name' already exists at $root — drop it first")
      }
      fsyncDir(Paths.get(root, "refs"), s"branch $name at $root")
      ref
    }

  /** Drop a branch ref; its unpublished manifests and data dirs become
    * unreferenced and age out via [[expire]]. */
  def dropBranch(root: String, name: String): Boolean =
    withCommitLock(root) {
      val existed = Files.deleteIfExists(branchFile(root, name))
      if (existed)
        fsyncDir(Paths.get(root, "refs"), s"dropBranch $name at $root")
      existed
    }

  /** The branch head's manifest. */
  def branchManifest(root: String, name: String): Manifest =
    manifestAt(root, branchRef(root, name).id)

  /** Read the branch head — the audit-side read of the WAP loop. */
  def readBranch(spark: SparkSession, root: String, name: String)
      : DataFrame =
    readManifest(spark, root, branchManifest(root, name))

  /** Append `df` to branch `name` as a BRANCH COMMIT: data written
    * like any append (fresh immutable dirs in a claimed snap dir), a
    * manifest file written and fsync'd — but NO chain slot claimed and
    * the MANIFEST hint untouched; only the branch ref moves. Main
    * readers are structurally unable to see it. Layout comes from the
    * branch head's recorded props. */
  def appendToBranch(df: DataFrame, root: String, name: String): Long =
    withCommitLock(root) {
      val head = branchManifest(root, name)
      val ref = branchRef(root, name)
      val (partCol, sortCol) = tableLayout(head).getOrElse(
        throw new IllegalStateException(
          s"branch '$name' at $root predates layout-recording " +
            "manifests — cannot resolve the append layout"))
      checkLayout(Some(head), partCol, sortCol, df)
      val merged = stampNewFields(head.props, head.schema,
        head.schema.map(mergeSchemas(_, df.schema)).getOrElse(df.schema))
      val id = allocateId(root)
      val fresh = writeSnapData(df, root, id, partCol, sortCol,
        Some(merged))
      val m = Manifest(id, head.entries ++ fresh, Some(merged),
        head.props ++ layoutProps(partCol, sortCol, df),
        ts = Some(System.currentTimeMillis()))
      fsyncWriteBytes(Paths.get(root, s"manifests/manifest-$id"),
        render(m).getBytes(StandardCharsets.UTF_8))
      writeBranchRef(root, ref.copy(id = id))
      id
    }

  /** Point the branch back at an earlier manifest (the "audit failed"
    * move): `toId` must be a retained manifest — typically the fork
    * head or a prior branch commit. The abandoned branch manifests
    * become unreferenced and age out via [[expire]]. */
  def resetBranch(root: String, name: String, toId: Long): Unit =
    withCommitLock(root) {
      val ref = branchRef(root, name)
      manifestAt(root, toId) // loud on a missing manifest
      writeBranchRef(root, ref.copy(id = toId))
    }

  /** PUBLISH the branch: commit its head state onto the MAIN chain as
    * one ordinary (conflict-checked, chain-claimed) commit — the "P"
    * of write-audit-publish. Requires main to still stand at the
    * branch's fork seq: a true fast-forward, refusing loudly when main
    * advanced underneath (re-branch from the new head and re-apply —
    * silently merging diverged histories would be a lost update).
    * Main's streaming idempotence tokens are preserved (the rollback
    * rule). The branch ref then re-forks at the published head, so the
    * next WAP cycle continues on the same branch name. Returns the
    * published manifest id. */
  def fastForward(root: String, name: String): Long =
    withCommitLock(root) {
      val ref = branchRef(root, name)
      val main = current(root).getOrElse(throw new IllegalStateException(
        s"no snapshot at $root"))
      val mainSeq = seqOf(main)
      require(mainSeq == ref.fork,
        s"fastForward('$name') at $root refused: main advanced from " +
          s"the fork (seq ${ref.fork}) to seq $mainSeq — the branch no " +
          "longer fast-forwards; re-branch from the current head and " +
          "re-apply the staged commits")
      if (ref.id == main.id) return main.id // nothing staged
      val head = manifestAt(root, ref.id)
      val tokens = main.props.filter(_._1.startsWith(AppendTokenPrefix))
      val id = allocateId(root)
      commitManifest(root,
        Manifest(id, head.entries, head.schema, head.props ++ tokens),
        mainSeq)
      writeBranchRef(root, BranchRef(name, id, mainSeq + 1))
      id
    }

  // ---- retention ---------------------------------------------------------

  /** Drop all but the newest `keepLast` manifests (the current pointer
    * is always among them) and delete every data dir no retained
    * manifest references. Bounds disk growth; readers within the
    * retention horizon are never invalidated.
    *
    * Cross-host contract: racing READERS and same-host writers are
    * safe (the lock + the hint repair below). A commit IN FLIGHT on
    * another host has data dirs no manifest references yet — to expire
    * they look exactly like crash orphans, so `orphanGraceMs` must
    * exceed the longest possible commit (data write → publish) before
    * running expire alongside cross-host writers; the default 0 sweeps
    * all orphans immediately and is only safe when this host's lock
    * covers every writer. (The same trade-off as Iceberg's
    * remove_orphan_files age threshold.) */
  def expire(root: String, keepLast: Int, orphanGraceMs: Long = 0L): Unit = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    // existence precheck BEFORE the lock: expire on a nonexistent root
    // stays a pure no-op (no phantom dir + lock file)
    if (!Files.exists(Paths.get(root, "manifests"))) return
    withCommitLock(root) {
      val dir = Paths.get(root, "manifests")
      val ids = retainedIds(root)
      // the LIVE head is authoritative, not the history listing: a
      // crash between the history write and the pointer swap leaves a
      // manifest-N in history that no chain slot (or MANIFEST) ever
      // adopted — keeping only the newest history files would then
      // delete dirs the live head still references (current-state
      // data loss). Pin the head's manifest and dirs unconditionally.
      val live = current(root)
      val liveSeq = live.map(seqOf).getOrElse(0L)
      // repair a trailing MANIFEST hint to the live head BEFORE any
      // slot is dropped: a hint left behind crashed writers would,
      // after its repair slots were deleted, resolve a STALE head —
      // and the next commit could then re-claim a freed slot number,
      // forking the chain. With the hint at the head, the walk needs
      // no slot this pass deletes. (render is deterministic, so the
      // repaired hint is byte-identical to the head's chain file.)
      live.foreach { l =>
        val hintP = Paths.get(root, "MANIFEST")
        val hintSeq =
          if (Files.exists(hintP)) seqOf(parse(hintP)) else 0L
        if (hintSeq < seqOf(l)) {
          val tmp = Paths.get(root, ".MANIFEST.tmp-repair")
          // the repaired hint must be DURABLE before any slot below it
          // is tombstoned: a crash that persists the tombstones but
          // not the repair would leave the stale hint walking over
          // content-less slots — fsync the file, then the rename's
          // directory entry
          fsyncWriteBytes(tmp, render(l).getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, hintP, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          fsyncDir(Paths.get(root), s"repaired MANIFEST hint at $root")
        }
      }
      // retention ranks by COMMIT ORDER (chain seq), not manifest id:
      // an append that lost a publish race retries with its original
      // id, so a NEWER commit can carry a LOWER id — ranking by id
      // would then expire the newer commit's manifest while retaining
      // older higher-id ones, skewing asOf history. The seq comes from
      // a bounded HEADER scan (id=/schema=/prop= lines precede every
      // entry line), never a full parse — a table with hundreds of
      // ~MB manifests must not pay O(total manifest bytes) per expire.
      // Pre-chain manifests fall back to id, which preserves their
      // serialized order; an unreadable manifest ranks by id too
      // (conservative — never crash retention on one bad file).
      val keep = ids
        .map(id => (seqOfHeader(dir.resolve(s"manifest-$id"))
          .getOrElse(id), id))
        .sortBy(identity).takeRight(keepLast).map(_._2).toSet ++
        live.map(_.id) ++
        // TAGGED commits are pinned unconditionally: a tag is the
        // operator's "this state matters" (release snapshots, audit
        // points) — their manifests, chain slots and data dirs all
        // survive retention until the tag is removed
        tags(root).values.map(_.id) ++
        // BRANCH HEADS are pinned the same way: an unpublished staged
        // state must survive retention until published or dropped
        // (intermediate branch manifests age out normally — only the
        // head is load-bearing)
        branches(root).values.map(_.id)
      // parse each retained manifest ONCE (they can be ~MB each; the
      // entry and eq-delete references both come from the same parse).
      // The live pointer's entries are pinned via `live` even if its
      // history file is gone (lost to a pre-fix expire).
      val retainedMs = keep.flatMap { id =>
        if (Files.exists(dir.resolve(s"manifest-$id")))
          Some(manifestAt(root, id))
        else None
      } ++ live.toSeq
      val referenced =
        retainedMs.flatMap(_.entries)
          // a retained entry pins BOTH its data dir's snap root and —
          // when it carries a deletion vector — the snap root holding
          // the DV sidecar (a later commit's _dv dir referenced by a
          // carried entry; sweeping it would resurrect deleted rows)
          .flatMap(e => Seq(e.dir.split("/").take(2).mkString("/")) ++
            e.dv.map(_.dir.split("/").take(2).mkString("/"))) ++
          // a retained manifest's CDC sidecar must outlive the entry
          // references: a DML that DRAINED every touched partition has
          // a sidecar in a snap dir its own entries never mention —
          // sweeping it would silently turn the commit's row-exact
          // feed into a wholesale fallback
          keep.filter(id => Files.isDirectory(cdcDirOf(root, id)))
            .map(id => s"data/snap-$id") ++
          // EQUALITY-DELETE sidecars ride the PROPS of every retained
          // manifest (they carry forward across commits), so a
          // retained manifest may reference an _eqdel dir whose own
          // commit's manifest is long expired — sweeping it would
          // resurrect displaced rows for every reader of that
          // manifest
          retainedMs.flatMap(m => eqDeletesOf(m).map(_.dir))
            .map(_.split("/").take(2).mkString("/"))
      // delete unreferenced snap dirs past the orphan grace (an
      // in-flight cross-host commit's dirs are younger than it), then
      // dropped manifests
      val cutoff = System.currentTimeMillis() - orphanGraceMs
      val dataDir = new java.io.File(s"$root/data")
      Option(dataDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !referenced(s"data/${f.getName}") &&
          f.lastModified() <= cutoff)
        .foreach(graft.util.Fs.deleteRecursively)
      ids.filterNot(keep).foreach(id =>
        Files.deleteIfExists(dir.resolve(s"manifest-$id")))
      // chain slots are hard links to manifest files — dropping the
      // manifest alone leaves the bytes alive under the slot name, so
      // TOMBSTONE the slots of dropped manifests: truncate to zero
      // length instead of deleting. The name must stay claimed
      // forever — a freed slot number could be re-claimed by a writer
      // whose base read predates this expire (its createLink would
      // succeed, "publishing" BELOW the live head and silently rolling
      // back every newer commit); against a tombstone the claim fails
      // loudly with ConcurrentCommitException, exactly like losing a
      // live race. Cost: one empty directory entry per expired commit.
      // Only slots strictly BELOW the live head's sequence are
      // candidates: the head's slot stays, and a slot above it can
      // only be a commit another host published after `live` was
      // read — never touchable on this host's stale view.
      Option(dir.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("commit-"))
        .foreach { f =>
          val slotSeq = f.getName.stripPrefix("commit-").toLongOption
          val headLine = scala.util.Try {
            val src = scala.io.Source.fromFile(f, "UTF-8")
            try src.getLines().next() finally src.close()
          }.toOption
          val mid = headLine.filter(_.startsWith("id="))
            .flatMap(_.stripPrefix("id=").toLongOption)
          // unparseable or already-empty → keep as-is (a tombstone
          // stays a tombstone; never break the chain on a read hiccup)
          if (slotSeq.exists(_ < liveSeq) && mid.exists(i => !keep(i))) {
            val ch = java.nio.channels.FileChannel.open(f.toPath,
              StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
            try ch.force(true) finally ch.close()
          }
        }
      // torn pointer staging files from a crash mid-publish are inert
      // (the atomic move never happened) — sweep them here too
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(".MANIFEST.tmp-"))
        .foreach(_.delete())
    }
  }

  // ---- generic single-dir commits (export family) ------------------------

  /** Manifest-pointer commit for sinks without a partition structure
    * (the sharded-export family): `writeTo` produces the files in a
    * freshly CLAIMED snap dir — it already exists, empty and
    * exclusively this commit's (the atomic id claim, see
    * [[allocateId]]), so writers must use overwrite/append semantics,
    * not errorifexists — then one atomic swap publishes it. A consumer
    * polling the export location resolves [[currentDir]] and never
    * sees a half-written shard set. */
  def commitDir(root: String)(writeTo: String => Unit): Long =
    withCommitLock(root) {
      val prior = current(root)
      val id = allocateId(root)
      val rel = s"data/snap-$id"
      writeTo(s"$root/$rel")
      commitManifest(root,
        Manifest(id, Seq(Entry("", rel)), None,
          prior.map(_.props).getOrElse(Map.empty)),
        prior.map(seqOf).getOrElse(0L))
      id
    }

  /** The current committed dir of a [[commitDir]]-managed location. */
  def currentDir(root: String): Option[String] =
    current(root).map(m => s"$root/${m.entries.head.dir}")
}
