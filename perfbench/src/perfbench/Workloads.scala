package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.{CsvExport, MergeTreeWriter, RawCsvSource, SnapshotStore,
  TaxiGen, TripsTransform}
import graft.util.Fs

/** Helpers shared by the workloads. */
object Rows {

  /** A result row as plain values: numbers, strings, nulls, nested lists. */
  def plain(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(plain)
    case s: scala.collection.Seq[_] => s.map(plain).toSeq
    case a: Array[_] => a.toSeq.map(plain)
    case d: java.math.BigDecimal => d.doubleValue()
    case d: scala.math.BigDecimal => d.toDouble
    case f: Float => f.toDouble
    case n: java.lang.Number => n
    case b: Boolean => b
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.temporal.TemporalAccessor => t.toString
    case x => x.toString
  }

  /** All rows as plain values, sorted by their rendering: a canonical,
    * order-free form of the result. */
  def canonical(rows: Array[Row]): Seq[Any] =
    rows.toSeq.map(plain).sortBy(Json(_))

  /** Order-free digest of a result. Doubles are rounded to 9 significant
    * digits first, so a float sum merged in a different task order still
    * hashes the same. */
  def digest(rows: Array[Row]): String = {
    def round(v: Any): Any = v match {
      case d: Double if !d.isNaN && !d.isInfinite && d != 0.0 =>
        new java.math.BigDecimal(d).round(new java.math.MathContext(9))
          .stripTrailingZeros().toPlainString
      case s: Seq[_] => s.map(round)
      case x => x
    }
    val lines = rows.toSeq.map(r => Json(round(plain(r)))).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def timed[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e6)
  }

  def filesUnder(dir: String, suffix: String): Int = {
    def walk(f: File): Int =
      if (f.isFile) (if (f.getName.endsWith(suffix)) 1 else 0)
      else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
    walk(new File(dir))
  }
}

/** The reference load, one call per layer, each in its own span:
  * seeded lineitem → TaxiGen → CsvExport (8 gzip shards, `\N` nulls) →
  * RawCsvSource → TripsTransform → MergeTreeWriter.write. */
object TaxiChain {
  def load(ctx: Ctx, root: String): String = {
    val raw = TaxiGen.fromLineitem(graft.Tables.lineitem(ctx.spark, ctx.in))
    ctx.trace.span("etl.csv_export") {
      CsvExport.write(raw, s"$root/staging_csv", shards = 8)
    }
    val staged = RawCsvSource.read(ctx.spark, s"$root/staging_csv")
    ctx.trace.span("etl.mergetree_write") {
      MergeTreeWriter.write(TripsTransform(staged), s"$root/trips_mergetree")
    }
    s"$root/trips_mergetree"
  }

  /** Per-month content of a loaded table, for the DuckDB check. */
  def monthSummary(ctx: Ctx, table: String): Array[Row] =
    MergeTreeWriter.read(ctx.spark, table)
      .groupBy(col("pickup_month").as("month"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("total_amount").cast("long")).as("amount"),
        sum(col("passenger_count").cast("long")).as("pax"))
      .collect()
}

/** `taxi_olap`: the reference's whole workflow. Set-up is the full load
  * from an empty root (three times; the loop queries the last table).
  * Each iteration runs the seeded queries — Q1–Q4, each in DSL or SQL-text
  * form, and a month-range count — each opening the table with
  * `MergeTreeWriter.read` as the engine's lanes do. */
final class TaxiOlap(ctx: Ctx) extends Workload {
  private val plan = ctx.plan("iterations").asInstanceOf[Seq[Seq[Map[String, Any]]]]
  // canonical output → how many loads / executions produced it
  private val summaries =
    mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
  private val results = mutable.LinkedHashMap[String,
    mutable.Map[String, Int]]()
  private val loadMs = mutable.ArrayBuffer[Double]()
  private val files = mutable.ArrayBuffer[Double]()
  private val tableBytes = mutable.ArrayBuffer[Double]()
  private val csvBytes = mutable.ArrayBuffer[Double]()
  private val rangeFiles = mutable.ArrayBuffer[Double]()
  private var table: String = _

  private val sqlText = Map(
    "sql_q1" ->
      "SELECT cab_type, count(*) AS cnt FROM trips_mergetree GROUP BY cab_type",
    "sql_q2" ->
      """SELECT CAST(passenger_count AS BIGINT) AS pax,
        | CAST(SUM(CAST(total_amount AS BIGINT)) AS DOUBLE) / count(*)
        |   AS avg_amount
        |FROM trips_mergetree GROUP BY passenger_count""".stripMargin,
    "sql_q3" ->
      """SELECT CAST(passenger_count AS BIGINT) AS pax,
        | CAST(year(pickup_date) AS BIGINT) AS yr, count(*) AS cnt
        |FROM trips_mergetree GROUP BY passenger_count, yr""".stripMargin,
    "sql_q4" ->
      """SELECT CAST(passenger_count AS BIGINT) AS pax,
        | CAST(year(pickup_date) AS BIGINT) AS yr,
        | round(trip_distance) AS dist, count(*) AS cnt
        |FROM trips_mergetree
        |GROUP BY passenger_count, yr, dist
        |ORDER BY yr, cnt DESC""".stripMargin)

  /** The reference queries as the engine's taxi lanes phrase them. */
  private def query(q: Map[String, Any], trips: DataFrame): DataFrame =
    q("kind") match {
      case "q1" => trips.groupBy("cab_type").agg(count(lit(1)).as("cnt"))
      case "q2" =>
        trips.groupBy(col("passenger_count").cast("long").as("pax"))
          .agg((sum(col("total_amount").cast("long")).cast("double")
            / count(lit(1))).as("avg_amount"))
      case "q3" =>
        trips.groupBy(col("passenger_count").cast("long").as("pax"),
          year(col("pickup_date")).cast("long").as("yr"))
          .agg(count(lit(1)).as("cnt"))
      case "q4" =>
        trips.groupBy(col("passenger_count").cast("long").as("pax"),
          year(col("pickup_date")).cast("long").as("yr"),
          round(col("trip_distance"), 0).as("dist"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("yr").asc, col("cnt").desc)
      case "range" =>
        val (lo, hi) = (q("lo").toString, q("hi").toString)
        // the month predicate prunes partition dirs, the time predicate
        // uses the row groups' pickup_datetime min/max
        trips.filter(col("pickup_month") >= lo && col("pickup_month") < hi &&
            col("pickup_datetime") >= to_timestamp(lit(s"$lo-01 00:00:00")) &&
            col("pickup_datetime") < to_timestamp(lit(s"$hi-01 00:00:00")))
          .agg(count(lit(1)).as("cnt"),
            sum(col("total_amount").cast("long")).as("amount"))
      case k: String =>
        trips.createOrReplaceTempView("trips_mergetree")
        ctx.spark.sql(sqlText(k))
    }

  private def key(q: Map[String, Any]): String =
    if (q("kind") == "range") s"range:${q("lo")}:${q("hi")}"
    else q("kind").toString

  def prepare(rep: Int): Unit = {
    val root = ctx.fresh(s"taxi/rep$rep")
    val (tbl, ms) = Rows.timed(TaxiChain.load(ctx, root))
    table = tbl
    loadMs += ms
    summaries(Json(Rows.canonical(TaxiChain.monthSummary(ctx, table)))) += 1
    files += Rows.filesUnder(table, ".parquet")
    tableBytes += Fs.du(new File(table))
    csvBytes += Fs.du(new File(s"$root/staging_csv"))
    Fs.deleteRecursively(new File(s"$root/staging_csv"))
    if (rep > 0) Fs.deleteRecursively(new File(ctx.work, s"taxi/rep${rep - 1}"))
  }

  private def run(q: Map[String, Any]): Op = {
    val t = ctx.trace
    val (out, ms) = Rows.timed {
      val trips = t.span("etl.table_open")(MergeTreeWriter.read(ctx.spark, table))
      t.span(s"olap.${q("kind")}") {
        val df = query(q, trips)
        val rows = df.collect()
        if (t.on && q("kind") == "range") rangeFiles += Scans.filesRead(df)
        rows
      }
    }
    val byResult = results.getOrElseUpdate(key(q),
      mutable.Map[String, Int]().withDefaultValue(0))
    byResult(Json(Rows.canonical(out))) += 1
    Op(q("kind").toString, ms, ok = true)
  }

  def warmup(): Unit = plan.head.take(2).foreach(run)

  def step(i: Int): Seq[Op] = plan(i % plan.size).map(run)

  def finish(ops: Seq[Op], measureSpan: Int): Outcome = {
    val t = ctx.trace
    val layers = if (!t.on) Map.empty[String, Double] else {
      // the load runs in set-up; the first set-up is a cold JVM
      val warmSetups = t.named("setup").drop(1).map(_.id)
      def inSetup(n: String) = warmSetups.flatMap(t.namedIn(n, _))
      val csv = inSetup("etl.csv_export")
      val mt = inSetup("etl.mergetree_write")
      val mtStages = mt.map(s => t.stagesOf(s.id))
      val opens = t.namedIn("etl.table_open", measureSpan)
      val qs = t.prefixedIn("olap.", measureSpan)
      val recs = qs.flatMap(_.queries)
      // a phase's median over the queries that went through it (DSL
      // queries have no parsing phase)
      def phase(p: String) =
        Tracer.median(recs.flatMap(_.phases.get(p)).map(_.toDouble))
      def qms(n: String) = Tracer.median(qs.filter(s =>
        s.name == s"olap.q$n" || s.name == s"olap.sql_q$n").map(_.wallMs))
      val ranges = t.namedIn("olap.range", measureSpan)
      Map(
        "etl.csv_export.ms" -> Tracer.median(csv.map(_.wallMs)),
        "etl.csv_export.shuffle_bytes" -> Tracer.median(csv.map(s =>
          t.stagesOf(s.id).map(_.shuffleWrite).sum.toDouble)),
        "etl.csv_export.csv_bytes" -> Tracer.median(csvBytes.drop(1).toSeq),
        "etl.mergetree_write.ms" -> Tracer.median(mt.map(_.wallMs)),
        // the scan/parse/transform stage ends in a shuffle write; the
        // sort/write stage starts from a shuffle read
        "etl.mergetree_write.parse_stage_ms" -> Tracer.median(mtStages.map(
          _.filter(r => r.shuffleWrite > 0).map(_.runMs).sum.toDouble)),
        "etl.mergetree_write.sort_write_stage_ms" -> Tracer.median(
          mtStages.map(_.filter(r => r.shuffleWrite == 0 && r.shuffleRead > 0)
            .map(_.runMs).sum.toDouble)),
        "etl.mergetree_write.shuffle_bytes" -> Tracer.median(
          mtStages.map(_.map(_.shuffleWrite).sum.toDouble)),
        "etl.mergetree_write.files" -> Tracer.median(files.drop(1).toSeq),
        "etl.table_open.ms" -> Tracer.median(opens.map(_.wallMs)),
        "etl.table_open.jobs" -> Tracer.mean(opens.map(s => t.jobsOf(s.id).toDouble)),
        "sql.parse.ms" -> phase("parsing"),
        "sql.analysis.ms" -> phase("analysis"),
        "sql.optimization.ms" -> phase("optimization"),
        "sql.planning.ms" -> phase("planning"),
        "sql.exec.ms" -> Tracer.median(recs.map(_.execMs)),
        "sql.exec.jobs" -> Tracer.mean(qs.map(s => t.jobsOf(s.id).toDouble)),
        "olap.q1.ms" -> qms("1"),
        "olap.q2.ms" -> qms("2"),
        "olap.q3.ms" -> qms("3"),
        "olap.q4.ms" -> qms("4"),
        "olap.range.files_read" -> Tracer.median(rangeFiles.toSeq),
        "olap.range.bytes_read" -> Tracer.median(ranges.map(s =>
          t.stagesOf(s.id).map(_.inputBytes).sum.toDouble)))
    }
    Outcome(
      Map("month_summaries" -> summaries.toMap,
        "results" -> results.map { case (k, v) => k -> v.toMap }.toMap),
      layers,
      Map("load_ms" -> loadMs.toSeq,
        "table_bytes" -> Tracer.median(tableBytes.toSeq)))
  }
}

/** Scan counters from an executed plan (adaptive plans included). */
object Scans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.FileSourceScanExec

  def filesRead(df: DataFrame): Double =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
}

/** `snapshot_dml`: a fresh month-partitioned `orders` snapshot table, then
  * seeded commit cycles through the SQL catalog. A cycle is one UPDATE,
  * DELETE, INSERT and MERGE, each followed by a read, and ends with
  * `rewriteDataFiles`. */
final class SnapshotDml(ctx: Ctx) extends Workload {
  private val plan = ctx.plan("cycles").asInstanceOf[Seq[Seq[Map[String, Any]]]]
  private val orders = s"${ctx.in}/orders.parquet"
  private var root: String = _
  private var table: String = _
  private var commits = 0
  private var lastRead: Array[Row] = Array.empty
  private val readBefore = mutable.ArrayBuffer[Double]()
  private val readAfter = mutable.ArrayBuffer[Double]()
  private val bytesPerCommit = mutable.ArrayBuffer[Double]()
  private val rewriteBytes = mutable.ArrayBuffer[Double]()

  private def cols(price: String, key: String) =
    s"""$key AS o_orderkey, o_custkey, o_orderstatus, $price AS o_totalprice,
       | o_orderdate, o_orderpriority,
       | date_format(o_orderdate, 'yyyy-MM') AS order_month""".stripMargin

  /** The SQL text of commit `op` against catalog table `t`. */
  private def sql(op: Map[String, Any], t: String): String = {
    def n(k: String) = op(k).toString
    op("kind") match {
      case "update" =>
        s"UPDATE $t SET o_totalprice = o_totalprice + ${n("delta")} " +
          s"WHERE o_orderkey % 7 <> 0 AND o_orderkey % ${n("mod")} = ${n("res")}"
      case "delete" =>
        s"DELETE FROM $t WHERE o_orderkey < 1000000 AND " +
          s"o_orderkey % ${ctx.plan("delete_mod")} = ${7 * n("cls").toInt}"
      case "insert" =>
        s"""INSERT INTO $t SELECT ${cols(s"o_totalprice + ${n("delta")}",
             s"o_orderkey + ${n("key_base")}")}
           |FROM parquet.`$orders`
           |WHERE o_orderkey % ${n("mod")} = ${n("res")}""".stripMargin
      case "merge" =>
        val m = n("mod").toInt
        val r = n("res").toInt
        s"""MERGE INTO $t AS t USING (
           |  SELECT ${cols(s"o_totalprice + ${n("delta")}", "o_orderkey")}
           |  FROM parquet.`$orders`
           |  WHERE o_orderkey % 7 <> 0 AND o_orderkey % $m = $r
           |  UNION ALL
           |  SELECT ${cols("o_totalprice", s"o_orderkey + ${n("key_base")}")}
           |  FROM parquet.`$orders` WHERE o_orderkey % $m = ${(r + 1) % m}
           |) AS s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    }
  }

  private def readSql(t: String) =
    s"""SELECT order_month, count(*) AS cnt,
       | round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE), 4)
       |   AS sum_price
       |FROM $t GROUP BY order_month""".stripMargin

  /** A new base table under `snap/<name>`, registered under its own
    * catalog name: Spark caches catalog plugins by name, so re-pointing
    * one name's warehouse would keep writing to the first table.
    * Returns (root, catalog table name). */
  private def create(name: String): (String, String) = {
    val wh = ctx.fresh(s"snap/$name")
    val r = s"$wh/orders"
    SnapshotStore.write(
      ctx.spark.read.parquet(orders)
        .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM")),
      r, partCol = "order_month", sortCol = "o_orderdate")
    val cat = s"perfsnap_$name"
    ctx.spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftSnapshotCatalog].getName)
    ctx.spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (r, s"$cat.orders")
  }

  def prepare(rep: Int): Unit = {
    val (r, t) = create(s"rep$rep")
    root = r
    table = t
    if (rep > 0) Fs.deleteRecursively(new File(ctx.work, s"snap/rep${rep - 1}"))
  }

  /** The first cycle's MERGE and UPDATE, a read and a rewrite, on a
    * throwaway table. */
  def warmup(): Unit = {
    val (r, t) = create("warmup")
    val heavy = plan.head.filter(op => Set("merge", "update")(op("kind").toString))
    heavy.foreach { op =>
      ctx.spark.sql(sql(op, t))
      ctx.spark.sql(readSql(t)).collect()
    }
    SnapshotStore.rewriteDataFiles(ctx.spark, r)
    Fs.deleteRecursively(new File(ctx.work, "snap/warmup"))
  }

  private def read(): Double = {
    val (rows, ms) = Rows.timed(ctx.trace.span("snap.read") {
      ctx.spark.sql(readSql(table)).collect()
    })
    lastRead = rows
    ms
  }

  def step(i: Int): Seq[Op] = {
    require(i < plan.size, s"commit plan exhausted after $i cycles")
    val ops = plan(i).flatMap { op =>
      val kind = op("kind").toString
      val before = Fs.du(new File(root))
      val (_, ms) = Rows.timed(ctx.trace.span(s"snap.$kind") {
        ctx.spark.sql(sql(op, table))
      })
      commits += 1
      bytesPerCommit += (Fs.du(new File(root)) - before).toDouble
      Seq(Op(s"commit:$kind", ms, ok = true), Op("read", read(), ok = true))
    }
    readBefore += ops.last.ms
    val b0 = Fs.du(new File(root))
    val prior = SnapshotStore.current(root).get.id
    val (id, rms) = Rows.timed(ctx.trace.span("snap.rewrite") {
      SnapshotStore.rewriteDataFiles(ctx.spark, root)
    })
    if (id != prior) commits += 1
    rewriteBytes += (Fs.du(new File(root)) - b0).toDouble
    readAfter += read()
    val cycleMs = ops.filter(_.kind.startsWith("commit:")).map(_.ms).sum
    ops ++ Seq(Op("maintenance", rms, ok = true),
      Op("read", readAfter.last, ok = true),
      Op("commit_cycle", cycleMs, ok = true))
  }

  def finish(ops: Seq[Op], measureSpan: Int): Outcome = {
    val t = ctx.trace
    val m = SnapshotStore.current(root).get
    val history = SnapshotStore.history(root)
    val layers = if (!t.on) Map.empty[String, Double] else {
      val commitSpans = Seq("snap.update", "snap.delete", "snap.insert",
        "snap.merge").flatMap(t.namedIn(_, measureSpan))
      val recs = t.namedIn("snap.read", measureSpan).flatMap(_.queries)
      val amp = readBefore.zip(readAfter).map { case (b, a) => b / math.max(a, 1e-3) }
      def ms(n: String) = Tracer.median(t.namedIn(n, measureSpan).map(_.wallMs))
      Map(
        "snap.update.ms" -> ms("snap.update"),
        "snap.delete.ms" -> ms("snap.delete"),
        "snap.insert.ms" -> ms("snap.insert"),
        "snap.merge.ms" -> ms("snap.merge"),
        "snap.jobs_per_commit" ->
          Tracer.mean(commitSpans.map(s => t.jobsOf(s.id).toDouble)),
        "snap.bytes_written_per_commit" -> Tracer.mean(bytesPerCommit.toSeq),
        "snap.manifest_entries" -> m.entries.size.toDouble,
        "snap.dv_entries" -> m.entries.count(_.dv.isDefined).toDouble,
        "snap.manifest_bytes" -> Fs.du(new File(s"$root/manifests")).toDouble,
        "snap.read.plan_ms" ->
          Tracer.median(recs.map(r => r.phases.values.sum.toDouble)),
        "snap.read.exec_ms" -> Tracer.median(recs.map(_.execMs)),
        "snap.read_amp" -> Tracer.median(amp.toSeq),
        "snap.rewrite.ms" -> ms("snap.rewrite"),
        "snap.rewrite.bytes" -> Tracer.median(rewriteBytes.toSeq))
    }
    Outcome(
      Map("final_read" -> Rows.canonical(lastRead),
        "commits_run" -> ops.count(_.kind.startsWith("commit:")),
        "commits_counted" -> commits,
        "history_size" -> history.size),
      layers,
      Map("stored_bytes" -> Fs.du(new File(root)),
        "live_rows" -> history.last.rows.getOrElse(-1L)))
  }
}

/** `dataprep_ops`: one pass per iteration over one lane per operator
  * family, each lane called from `SparkEntry.allQueries`. */
final class DataprepOps(ctx: Ctx) extends Workload {
  private val lanes = ctx.strs("lanes")
  private val fns = lanes.map(l => l -> graft.SparkEntry.allQueries(l)).toMap
  private val digests =
    mutable.LinkedHashMap[String, Set[String]]()

  def prepare(rep: Int): Unit =
    // open every input table (footer reads, schema resolution)
    new File(ctx.in).list().filter(_.endsWith(".parquet")).sorted.foreach(f =>
      graft.Tables.load(ctx.spark, ctx.in, f.stripSuffix(".parquet")).schema)

  private def runLane(lane: String): Double = {
    val (rows, ms) = Rows.timed(ctx.trace.span(s"ops.$lane") {
      fns(lane)(ctx.spark, ctx.in).collect()
    })
    digests(lane) = digests.getOrElse(lane, Set.empty) + Rows.digest(rows)
    // lanes pin checkpointed frames; release them between lanes, untimed
    graft.util.Checkpoints.releaseAllAndGc(ctx.spark)
    ms
  }

  def warmup(): Unit = lanes.foreach(runLane)

  def step(i: Int): Seq[Op] = {
    val laneOps = lanes.map(l => Op(s"lane:$l", runLane(l), ok = true))
    laneOps :+ Op("pass", laneOps.map(_.ms).sum, ok = true)
  }

  def finish(ops: Seq[Op], measureSpan: Int): Outcome = {
    val t = ctx.trace
    val layers = if (!t.on) Map.empty[String, Double] else
      lanes.flatMap { l =>
        val measured = t.namedIn(s"ops.$l", measureSpan)
        Seq(
          s"ops.$l.ms" -> Tracer.median(measured.map(_.wallMs)),
          s"ops.$l.jobs" -> Tracer.mean(measured.map(s => t.jobsOf(s.id).toDouble)),
          s"ops.$l.shuffle_bytes" -> Tracer.mean(measured.map(s =>
            t.stagesOf(s.id).map(_.shuffleWrite).sum.toDouble)),
          s"ops.$l.driver_gap_ms" -> Tracer.median(measured.map(t.driverGapMs)))
      }.toMap
    Outcome(
      Map("digests" -> digests.map { case (k, v) => k -> v.toSeq }.toMap,
        "unstable" -> digests.filter(_._2.size > 1).keys.toSeq),
      layers, Map.empty)
  }
}
