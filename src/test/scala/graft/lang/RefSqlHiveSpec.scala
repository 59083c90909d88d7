package graft.lang

import graft.SparkTestBase

/** Executes the reference's spec/sql/hive corpus (11 files — the
  * reference's Hive SQL generator reference examples, README: "reference
  * documentation … not meant to be executed directly" by ITS runner; here
  * every statement must EXECUTE on Spark after the dialect shim) plus
  * spec/sql/hive-parseable (2 sql files). Spark's grammar is Hive-derived,
  * so LATERAL VIEW, DIV, CLUSTER/DISTRIBUTE/SORT BY, INSERT INTO TABLE and
  * WITH…INSERT are native; the shim supplies `//`, STORED AS, TD_* time
  * UDFs and the each_top_k window rewrite.
  *
  * The corpus is schema-free (parse-oriented), so each file gets a fixture
  * set sized to its column references; fixtures are recreated per file
  * (files reuse names like `orders`/`test_table` with different shapes).
  */
class RefSqlHiveSpec extends SparkTestBase {

  private val hiveDir = graft.catalog.ReferenceCorpus.path("spec/sql/hive")
  private val parseableDir = graft.catalog.ReferenceCorpus.path("spec/sql/hive-parseable")

  // no file-level exclusions: hive-udtf.sql's each_top_k statement executes
  // via the window rewrite; only its generic undefined-UDTF statement is
  // tolerated below (per-statement), matching the reference's own treatment
  private val excluded: Map[String, String] = Map.empty

  // --- fixture helpers -------------------------------------------------------

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete()
  }

  /** Drop + clear stale warehouse dir (derby metastore dies per-JVM but
    * spark-warehouse survives) + recreate as an empty parquet table. */
  private def fresh(name: String, cols: String): Unit = {
    drop(name)
    spark.sql(s"CREATE TABLE $name ($cols) USING parquet")
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

  private def view(name: String, sql: String): Unit =
    spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sql")

  // --- per-file fixtures -----------------------------------------------------

  private val fixtures: Map[String, () => Unit] = Map(
    "array-angle-bracket-types.sql" -> (() => ()),
    "div_operator.sql" -> (() =>
      view("test_table",
        "SELECT 'ab' AS cdp_customer_id, 1 AS a, 2 AS b, 3 AS c, 4 AS d")),
    "hive-data-types.sql" -> (() => {
      view("users", "SELECT 1L AS user_id, 'John' AS name, 'j@x.io' AS email")
      fresh("test_table", "id INT, name STRING")
      drop("user_sessions")
    }),
    "hive-functions.sql" -> (() => {
      view("events",
        "SELECT 's1' AS session_id, 1L AS user_id, array('a', 'b') AS actions")
      view("logs", "SELECT 'ERROR: connect timeout' AS message")
      view("users", "SELECT 1L AS user_id, 'John' AS name, 'j@x.io' AS email")
      view("user_profiles",
        "SELECT 1L AS user_id, map('name', 'John', 'email', 'j@x.io') AS user_info")
      view("orders",
        "SELECT 1L AS order_id, array(10, 20) AS items, array('new', 'gift') AS tags")
      view("user_events",
        "SELECT 1L AS user_id, TIMESTAMP'2024-01-01 00:00:00' AS event_time, 'click' AS event_type")
    }),
    "hive-lateral-view.sql" -> (() => {
      view("orders", "SELECT 1L AS order_id, array(10, 20) AS items")
      view("user_sessions",
        "SELECT 1L AS user_id, array('ios', 'web') AS devices, array('tap', 'scroll') AS actions")
      view("user_activity",
        "SELECT 1L AS user_id, array(1, 2) AS monday_events, array(3) AS tuesday_events, array(4) AS wednesday_events")
      view("users", "SELECT 1L AS user_id, array('a', 'b') AS tags")
    }),
    "hive-partition-write.sql" -> (() => {
      view("sales",
        "SELECT 'east' AS region, 2024 AS year, 1 AS month, 1 AS customer_id, " +
          "7 AS product_id, 10.0 AS sales_amount, 5.0 AS amount")
      fresh("sales_partitioned",
        "region STRING, year INT, month INT, customer_id INT, product_id INT, " +
          "sales_amount DOUBLE, amount DOUBLE")
      view("orders",
        "SELECT 1 AS customer_id, DATE'2024-01-02' AS order_date, 3.0 AS order_amount")
      fresh("orders_partitioned", "customer_id INT, order_date DATE, order_amount DOUBLE")
      fresh("analytics_table",
        "region STRING, product_id INT, total_sales DOUBLE, transaction_count BIGINT")
      fresh("summary_table", "region STRING, total DOUBLE")
      // col1..col3 ride along: the corpus' `INSERT INTO target_table (col1,
      // col2, col3) SELECT a, b, c … DISTRIBUTE BY col1` resolves the
      // DISTRIBUTE key against the INPUT relation (Hive scoping)
      view("source_table",
        "SELECT 1 AS a, 2 AS b, 3 AS c, 1 AS col1, 2 AS col2, 3 AS col3")
      fresh("target_table", "col1 INT, col2 INT, col3 INT")
      view("raw_data",
        "SELECT 1 AS priority, TIMESTAMP'2024-01-01 00:00:00' AS `timestamp`, 1 AS id")
      fresh("sorted_data", "priority INT, `timestamp` TIMESTAMP, id INT")
      view("source_data", "SELECT 'p1' AS partition_key")
      fresh("optimized_table", "partition_key STRING")
      view("source",
        "SELECT DATE'2024-01-01' AS date_column, 'c' AS category, 'h' AS hash_key, " +
          "TIMESTAMP'2024-01-01 00:00:00' AS `timestamp`")
      drop("clustered_sales", "distributed_sales", "partitioned_table", "distributed_table")
    }),
    "insert-into-table.sql" -> (() => {
      val tenCols =
        "id BIGINT, name STRING, email STRING, c4 STRING, c5 STRING, c6 STRING, " +
          "c7 STRING, c8 STRING, c9 STRING, c10 STRING"
      view("source_table",
        "SELECT 1L AS id, 'n' AS name, 'e' AS email, 'a' AS c4, 'b' AS c5, " +
          "'c' AS c6, 'd' AS c7, 'e' AS c8, 'f' AS c9, 'g' AS c10")
      fresh("customers", tenCols)
      fresh("cdp_tmp_customers",
        "time BIGINT, cdp_customer_id STRING, `user` STRING, host STRING, path STRING, " +
          "referer STRING, code STRING, agent STRING, size STRING, method STRING")
      spark.sql("CREATE DATABASE IF NOT EXISTS schema1")
      spark.sql("CREATE DATABASE IF NOT EXISTS schema")
      spark.sql("CREATE DATABASE IF NOT EXISTS sample_datasets")
      fresh("schema1.`table_name`", tenCols)
      fresh("schema.`table`", tenCols)
      drop("sample_datasets.www_access")
      spark.sql(
        """CREATE TABLE sample_datasets.www_access USING parquet AS
           SELECT 1465938000L AS time, 'u' AS `user`, 'h' AS host, '/p' AS path,
                  'r' AS referer, '200' AS code, 'ua' AS agent, '10' AS size, 'GET' AS method""")
    }),
    "insert-overwrite.sql" -> (() => {
      fresh("cdp_tmp_token_4028_segments", "key STRING, value STRING")
      view("cdp_tmp_token_4028_segments_all", "SELECT 'k1' AS key, 'v1' AS value")
    }),
    "td-time-functions.sql" -> (() => {
      view("access", "SELECT 'c1' AS client_id, 1465938000L AS time, 1 AS is_uu")
      view("logs", "SELECT 1465938349L AS time, 'm' AS message")
    }),
    "with-insert.sql" -> (() => {
      view("source_table", "SELECT 1L AS id, 'a' AS name")
      fresh("target_table", "id BIGINT, name STRING")
      view("table1", "SELECT 1L AS id, 'x' AS name")
      view("table2", "SELECT 1L AS id, 'y' AS value")
      fresh("result_table", "a BIGINT, b STRING, c BIGINT, d STRING")
      view("cdp_tmp_word_tagging_behavior_behv_orders_articles_tokens",
        "SELECT 1L AS article_id, 'two words' AS word, 1 AS unigram " +
          "UNION ALL SELECT 2L, 'two words', 0")
      fresh("cdp_tmp_word_tagging_behavior_behv_orders_articles_tokens_filtered",
        "article_id BIGINT, word STRING")
      view("cdp_tmp_word_tagging_category_mapping_en", "SELECT 'two words' AS word")
      view("employees",
        "SELECT 1L AS id, CAST(NULL AS BIGINT) AS parent_id, 'ceo' AS name " +
          "UNION ALL SELECT 2L, 1L, 'dev'")
      fresh("org_chart", "id BIGINT, parent_id BIGINT, name STRING")
      view("users", "SELECT 1L AS id, 'u' AS name")
      spark.sql("CREATE DATABASE IF NOT EXISTS schema")
      fresh("schema.`table`", "id BIGINT, name STRING")
      view("cdp_tmp_word_tagging_behavior_behv_orders",
        "SELECT 'c1' AS cdp_customer_id, 't1' AS tag, 0.9 AS tag_score " +
          "UNION ALL SELECT 'c1', 't2', 0.5")
      fresh("cdp_tmp_word_tagging_behavior_behv_orders_customers_tags",
        "cdp_customer_id STRING, tag STRING")
    }),
    "hive-udtf.sql" -> (() =>
      view("cdp_tmp_word_tagging_behavior_behv_orders",
        "SELECT 'c1' AS cdp_customer_id, 't1' AS tag, 0.9 AS tag_score " +
          "UNION ALL SELECT 'c1', 't2', 0.5")),
    // hive-parseable
    "basic-queries.sql" -> (() => {
      view("employees",
        "SELECT 1L AS employee_id, 'eng' AS department, 100.0 AS salary")
      view("logs", "SELECT 'ERROR' AS log_level, 'boom' AS message")
      view("orders",
        "SELECT 1L AS order_id, DATE'2024-02-01' AS order_date, 1L AS customer_id")
      view("customers", "SELECT 1L AS customer_id, 'Ada' AS customer_name")
      view("products", "SELECT 1L AS product_id, 'p' AS product_name, 9.5 AS price")
    }),
    "values-syntax.sql" -> (() => {
      fresh("test_table", "id INT, name STRING")
      fresh("users", "id INT, name STRING, email STRING")
      fresh("user_summary", "user_id BIGINT, event_count BIGINT")
      view("user_events", "SELECT 1L AS user_id, 'click' AS event_type")
    })
  )

  /** statements allowed to fail, with reasons (matched by substring) */
  private val tolerated: Map[String, Map[String, String]] = Map(
    "hive-udtf.sql" -> Map(
      "func_name(arg1, arg2, arg3)" ->
        ("generic undefined-UDTF (`func_name(…) AS (cols)`) — no function body exists " +
          "to execute; parse-only surface in the reference too")),
    "hive-data-types.sql" -> Map(
      "named_struct('name', 'John', 'age', 30)" ->
        ("heterogeneous struct array — MAP values mixing struct<name,age> and " +
          "struct<theme,language> is untypeable on Hive/Trino/Spark alike; parse-only example"))
  )

  test("sql/hive + sql/hive-parseable corpora: included files execute") {
    val files =
      new java.io.File(hiveDir).listFiles().filter(_.getName.endsWith(".sql"))
        .map(f => (f.getName, f.toPath)) ++
        new java.io.File(parseableDir).listFiles().filter(_.getName.endsWith(".sql"))
          .map(f => (f.getName, f.toPath))
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var ran = 0
    var toleratedHits = 0
    files.sortBy(_._1).foreach { case (name, path) =>
      if (!excluded.contains(name)) {
        fixtures.getOrElse(name, throw new IllegalStateException(s"no fixture for $name"))()
        val text = new String(java.nio.file.Files.readAllBytes(path))
        val tol = tolerated.getOrElse(name, Map.empty)
        var fileGreen = true
        graft.Graft.splitSqlStatements(text).foreach { stmt =>
          try graft.Graft.sqlScript(spark, stmt, None).collect()
          catch {
            case e: Throwable =>
              tol.keys.find(stmt.contains) match {
                case Some(_) => toleratedHits += 1
                case None =>
                  fileGreen = false
                  failures += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(250)}"
              }
          }
        }
        if (fileGreen) ran += 1
      }
    }
    info(s"$ran/${files.length} files executed green, ${excluded.size} excluded, " +
      s"$toleratedHits statements tolerated (documented)")
    failures.foreach { case (f, m) => info(s"FAIL $f: $m") }
    assert(failures.isEmpty, s"${failures.size} files failed: ${failures.map(_._1).mkString(", ")}")
    assert(ran >= 12, s"expected >=12 green files, got $ran")
  }

  test("each_top_k window rewrite executes with Hivemall semantics") {
    view("cdp_tmp_word_tagging_behavior_behv_orders",
      "SELECT 'c1' AS cdp_customer_id, 't1' AS tag, 0.9 AS tag_score " +
        "UNION ALL SELECT 'c1', 't2', 0.5 UNION ALL SELECT 'c2', 't3', 0.7")
    val rows = graft.Graft.sqlScript(spark,
      """SELECT each_top_k(1, cdp_customer_id, tag_score, cdp_customer_id, tag)
           AS (rank, tag_score, cdp_customer_id, tag)
         FROM cdp_tmp_word_tagging_behavior_behv_orders""", None)
      .collect().map(r => (r.getString(2), r.getString(3), r.getInt(0))).toSet
    assert(rows == Set(("c1", "t1", 1), ("c2", "t3", 1)))
  }
}
