package graft.sources

import graft.SparkSpec
import graft.etl.SnapshotStore
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The CALL procedure surface of [[GraftSnapshotCatalog]] as a
  * contract: the listed names, each procedure's description and
  * parameter list, each result schema, the unknown-name message, and
  * the refusal of NULL arguments before any table state is touched. */
class SnapshotProcedureSpec extends SparkSpec {

  import spark.implicits._

  private val TableComment = "snapshot table name relative to the warehouse"

  /** name -> (description, (param, type, comment) in order). */
  private val Expected: Seq[(String, String, Seq[(String, DataType, String)])] =
    Seq(
      ("merge_into", "Atomic copy-on-write MERGE into a graft snapshot table",
        Seq(("table", StringType, TableComment),
          ("source", StringType, "view/table holding the changeset: base " +
            "columns + boolean delete flag"),
          ("key", StringType, "unique merge key column"),
          ("delete_flag", StringType, "boolean column marking delete rows"))),
      ("history", "Retained commit history of a graft snapshot table",
        Seq(("table", StringType, TableComment))),
      ("expire",
        "Expire a graft snapshot table's history to the newest keep_last " +
          "commits",
        Seq(("table", StringType, TableComment),
          ("keep_last", IntegerType,
            "how many newest commits to retain (>= 1)"))),
      ("compact", "Compact a graft snapshot table to one dir per partition",
        Seq(("table", StringType, TableComment))),
      ("rewrite_data_files",
        "Binpack-rewrite a graft snapshot table's dirty entries only",
        Seq(("table", StringType, TableComment),
          ("target_file_bytes", LongType,
            "binpack file-size target in bytes"))),
      ("rollback",
        "Roll a graft snapshot table back to a retained commit (new head)",
        Seq(("table", StringType, TableComment),
          ("to_seq", LongType, "retained chain sequence to restore"))),
      ("tag", "Pin and name a retained commit of a graft snapshot table",
        Seq(("table", StringType, TableComment),
          ("name", StringType, "immutable tag name"),
          ("seq", LongType, "retained chain sequence to pin"))),
      ("untag", "Remove a tag from a graft snapshot table",
        Seq(("table", StringType, TableComment),
          ("name", StringType, "tag name to remove"))),
      ("tags", "List a graft snapshot table's tags",
        Seq(("table", StringType, TableComment))),
      ("evolve_spec",
        "Evolve a graft snapshot table's partition spec for future commits",
        Seq(("table", StringType, TableComment),
          ("new_spec", StringType,
            "new partition spec, e.g. 'month,bucket(4,id)'"))),
      ("branch",
        "Cut a write-audit-publish branch at a graft snapshot table's head",
        Seq(("table", StringType, TableComment),
          ("name", StringType, "branch name"))),
      ("fast_forward",
        "Publish a WAP branch's staged state onto the main chain",
        Seq(("table", StringType, TableComment),
          ("name", StringType, "branch name to publish"))),
      ("drop_branch", "Drop a WAP branch from a graft snapshot table",
        Seq(("table", StringType, TableComment),
          ("name", StringType, "branch name to drop"))))

  private def catalog(wh: String): GraftSnapshotCatalog = {
    val c = new GraftSnapshotCatalog
    c.initialize("snapproc_direct", new CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", wh)))
    c
  }

  private def mkTable(tag: String): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(tag).toString
    val root = s"$wh/t"
    SnapshotStore.write(Seq(
      (1L, "2024-01", 1, 10.0), (2L, "2024-01", 2, 20.0),
      (3L, "2024-02", 3, 30.0), (4L, "2024-02", 4, 40.0))
      .toDF("id", "m", "v", "price"), root, "m", "v")
    (wh, root)
  }

  /** Spark caches catalog plugins by name: one fresh name per table. */
  private def register(cat: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftSnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }

  private def shape(s: StructType): Seq[(String, DataType, Boolean)] =
    s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  test("listProcedures names every procedure in order, each loads, and " +
      "its description and parameter list are the contract") {
    val c = catalog(java.nio.file.Files
      .createTempDirectory("graft_snapproc_list").toString)
    val listed = c.listProcedures(Array("system")).toSeq
    assert(listed.map(_.name()) === Expected.map(_._1))
    assert(listed.forall(_.namespace().toSeq == Seq("system")))
    Expected.zip(listed).foreach { case ((name, desc, params), ident) =>
      val unbound = c.loadProcedure(ident)
      assert(unbound.name() === name)
      assert(unbound.description() === desc)
      val bound = unbound.bind(StructType(Nil))
      assert(bound.name() === name)
      assert(bound.description() === desc)
      assert(!bound.isDeterministic, s"$name reads or commits live state")
      assert(bound.parameters().toSeq
        .map(p => (p.name(), p.dataType(), p.comment())) === params,
        s"$name parameters")
      assert(bound.parameters().forall(p =>
        p.mode() == org.apache.spark.sql.connector.catalog.procedures
          .ProcedureParameter.Mode.IN && p.defaultValue() == null),
        s"$name parameters are required IN parameters")
    }
  }

  test("an unknown procedure name refuses with the full procedure list") {
    val c = catalog(java.nio.file.Files
      .createTempDirectory("graft_snapproc_unknown").toString)
    val e = intercept[UnsupportedOperationException] {
      c.loadProcedure(Identifier.of(Array("system"), "vacuum"))
    }
    assert(e.getMessage ===
      "unknown procedure 'vacuum' — this catalog provides " +
        "system.merge_into(table, source, key, delete_flag), " +
        "system.history(table), system.expire(table, keep_last), " +
        "system.compact(table), " +
        "system.rewrite_data_files(table, target_file_bytes), " +
        "system.rollback(table, to_seq), " +
        "system.tag(table, name, seq), system.untag(table, name), " +
        "system.tags(table), system.evolve_spec(table, new_spec), " +
        "system.branch(table, name), " +
        "system.fast_forward(table, name) and " +
        "system.drop_branch(table, name)")
  }

  test("every procedure returns its result schema; named arguments " +
      "bind by parameter name") {
    val (wh, root) = mkTable("graft_snapproc_schema")
    register("snapproc_s", wh)
    def schemaOf(args: String): Seq[(String, DataType, Boolean)] =
      shape(spark.sql(s"CALL snapproc_s.system.$args").schema)
    val id = Seq(("snapshot_id", LongType, false))

    assert(schemaOf("history('t')") === Seq(
      ("seq", LongType, false), ("snapshot_id", LongType, false),
      ("entries", IntegerType, false), ("total_rows", LongType, true),
      ("commit_ts", TimestampType, true)))
    Seq((5L, "2024-03", 5, 50.0, false), (1L, "2024-01", 1, 10.0, true))
      .toDF("id", "m", "v", "price", "del")
      .createOrReplaceTempView("snapproc_changes")
    assert(schemaOf(
      "merge_into('t', 'snapproc_changes', 'id', 'del')") === id)
    assert(schemaOf("compact('t')") === id)
    assert(schemaOf(
      s"rewrite_data_files('t', ${128L * 1024 * 1024})") === id)
    assert(schemaOf("evolve_spec('t', 'm,bucket(2,id)')") === id)
    assert(schemaOf("tag('t', 'r1', 1)") === id)
    assert(schemaOf("tags('t')") === Seq(
      ("name", StringType, false), ("seq", LongType, false),
      ("snapshot_id", LongType, false)))
    assert(schemaOf("untag('t', 'r1')") === Seq(("existed", LongType, false)))
    assert(schemaOf("branch('t', 'b')") === id)
    SnapshotStore.appendToBranch(
      Seq((6L, "2024-03", 6, 60.0)).toDF("id", "m", "v", "price"), root, "b")
    assert(schemaOf("fast_forward('t', 'b')") === id)
    assert(schemaOf("drop_branch('t', 'b')") ===
      Seq(("existed", LongType, false)))
    assert(schemaOf("rollback('t', 1)") === id)
    val expired = spark.sql(
      "CALL snapproc_s.system.expire(table => 't', keep_last => 1)")
    assert(shape(expired.schema) === Seq(("retained_commits", LongType, false)))
    assert(expired.head().getLong(0) === 1L)
  }

  test("a NULL argument refuses naming the parameter, before any state " +
      "is read or written") {
    val (wh, root) = mkTable("graft_snapproc_null")
    register("snapproc_n", wh)
    def refusal(args: String): String =
      intercept[IllegalArgumentException] {
        spark.sql(s"CALL snapproc_n.system.$args").collect()
      }.getMessage
    assert(refusal("history(NULL)") ===
      "CALL system.history: argument 'table' must not be NULL")
    assert(refusal("tag('t', 'x', NULL)") ===
      "CALL system.tag: argument 'seq' must not be NULL")
    assert(SnapshotStore.tags(root).isEmpty, "no tag was written")
    assert(refusal("rollback('t', NULL)") ===
      "CALL system.rollback: argument 'to_seq' must not be NULL")
    assert(refusal("rewrite_data_files('t', NULL)") ===
      "CALL system.rewrite_data_files: argument 'target_file_bytes' " +
        "must not be NULL")
    assert(SnapshotStore.currentSeq(root) === 1L, "nothing was committed")
  }
}
