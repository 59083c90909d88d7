package graft.lang

import graft.SparkTestBase

/** Executes the reference's spec/sql/trino corpus (21 files: Trino-only
  * statement forms — SHOW/DESCRIBE INPUT/EXPLAIN options/SET SESSION/
  * CREATE TABLE LIKE/column WITH properties/IP literals) and spec/sql/
  * update (INSERT-with-CTE), through the dialect shim. The reference
  * parses these (SqlParser.scala); here every statement must EXECUTE:
  * governance listings return typed empty results, SHOW CREATE
  * SCHEMA/FUNCTION/MV return the reconstructable DDL, DESCRIBE
  * INPUT/OUTPUT answer from the prepared-statement registry, and CREATE
  * TABLE LIKE inlines the source schema from the live catalog.
  *
  * (Named Spec2 because RefTrinoSpec already covers the reference's
  * spec/trino wv-language corpus.) */
class RefSqlTrinoSpec2 extends SparkTestBase {

  private val trinoDir = graft.catalog.ReferenceCorpus.path("spec/sql/trino")
  private val updateDir = graft.catalog.ReferenceCorpus.path("spec/sql/update")

  /** every file runs — no exclusions */
  private val excluded: Map[String, String] = Map.empty

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete()
  }

  private def drop(names: String*): Unit = names.foreach { name =>
    val plain = name.replace("`", "")
    // a temp view of the same name shadows the catalog table — clear all
    // three layers (temp view, permanent view, table)
    spark.catalog.dropTempView(plain)
    try spark.sql(s"DROP VIEW IF EXISTS $name")
    catch { case _: Throwable => () } // DROP VIEW on a table: not a view
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val p = plain.split('.') match {
      case Array(db, t) => s"spark-warehouse/$db.db/$t"
      case Array(t) => s"spark-warehouse/$t"
      case _ => return
    }
    rmrf(new java.io.File(p))
  }

  private def fresh(name: String, cols: String): Unit = {
    drop(name)
    spark.sql(s"CREATE TABLE $name ($cols) USING parquet")
  }

  private def view(name: String, sql: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sql")

  /** shared LIKE-source tables + placeholder databases */
  private def common(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS schema")
    view("source_table", "SELECT 1L AS sid, 'n' AS sname")
    view("table1", "SELECT 1 AS t1a")
    view("table2", "SELECT 1 AS t2a")
    fresh("schema.source_table", "sid BIGINT, sname STRING")
  }

  private val likeTargets = Seq(
    "test_table_basic", "test_table_explicit_exclude", "test_table_include_props",
    "test_mixed_before", "test_mixed_after", "test_replace_with_like",
    "test_if_not_exists_like", "test_like_with_props", "test_like_include_and_with",
    "test_like_as_select", "test_like_as_select_with_props", "test_multiple_likes",
    "test_qualified_like", "test_fully_qualified_like")

  private val fixtures: Map[String, () => Unit] = Map(
    "create-table-column-with.sql" -> (() => {
      spark.sql("CREATE DATABASE IF NOT EXISTS d_2185c")
      drop("d_2185c.t_da91a", "test_simple", "test_not_null", "test_multiple_props")
    }),
    "create-table-like-basic.sql" -> (() => { common(); drop(likeTargets: _*) }),
    "create-table-like.sql" -> (() => { common(); drop(likeTargets: _*) }),
    "describe-input.sql" -> (() => ()),
    "describe-output.sql" -> (() => ()),
    "explain-syntax.sql" -> (() => ()),
    "ip-address-literals.sql" -> (() => ()),
    "prepare-and-describe.sql" -> (() => ()),
    "set-session.sql" -> (() => ()),
    "show-branches.sql" -> (() => ()),
    "show-catalogs.sql" -> (() => ()),
    "show-create-function.sql" -> (() => ()),
    "show-create-materialized-view.sql" -> (() => ()),
    "show-create-schema.sql" -> (() => ()),
    "show-create-table.sql" -> (() => {
      common()
      drop("test_table")
      fresh("schema.test_table", "id INT, name STRING")
    }),
    "show-grants.sql" -> (() => ()),
    "show-roles.sql" -> (() => ()),
    "show-session.sql" -> (() => ()),
    "show-stats.sql" -> (() => {
      common()
      drop("test_table")
      fresh("schema.test_table", "id INT, name STRING")
    }),
    "union-in-parentheses.sql" -> (() => ()),
    "union-in-subquery.sql" -> (() => drop("test_table")),
    // spec/sql/update
    "insert-with-cte.sql" -> (() => {
      fresh("target_table", "a INT, b STRING")
      fresh("results", "a INT, b STRING, c INT, d INT")
      fresh("t_57ac2", "f_9d304 BIGINT, f_c9456 STRING")
      fresh("users", "id INT, email STRING")
      fresh("summary_table", "category STRING, cnt BIGINT")
    })
  )

  test("sql/trino + sql/update corpora: every file executes") {
    val files =
      new java.io.File(trinoDir).listFiles().filter(_.getName.endsWith(".sql"))
        .map(f => (f.getName, f.toPath)) ++
        new java.io.File(updateDir).listFiles().filter(_.getName.endsWith(".sql"))
          .map(f => (f.getName, f.toPath))
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var ran = 0
    files.sortBy(_._1).foreach { case (name, path) =>
      if (!excluded.contains(name)) {
        fixtures.getOrElse(name, throw new IllegalStateException(s"no fixture for $name"))()
        val text = new String(java.nio.file.Files.readAllBytes(path))
        try {
          graft.Graft.sqlScript(spark, text, None).collect()
          ran += 1
        } catch {
          case e: Throwable =>
            failures += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(250)}"
        }
      }
    }
    info(s"$ran/${files.length} files executed green")
    failures.foreach { case (f, m) => info(s"FAIL $f: $m") }
    assert(failures.isEmpty, s"${failures.size} files failed: ${failures.map(_._1).mkString(", ")}")
    assert(ran >= 22, s"expected >=22 green files, got $ran")
  }

  test("CREATE TABLE LIKE inlines the source schema (mixed columns + LIKE)") {
    common()
    drop("like_probe")
    graft.Graft.sqlScript(spark,
      "CREATE TABLE like_probe (id BIGINT, LIKE source_table, extra STRING)", None)
    assert(spark.table("like_probe").columns.toSeq ==
      Seq("id", "sid", "sname", "extra"))
    drop("like_probe")
  }

  test("DESCRIBE INPUT reflects the registered statement's parameters") {
    val df = graft.Graft.sqlScript(spark,
      """PREPARE riq FROM SELECT ? FROM range(1) WHERE id = ?;
         DESCRIBE INPUT riq;""", None)
    assert(df.collect().length == 2)
  }
}
