package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Frozen outputs of the SQL front-end's text passes: `SqlDialect.normalize`
  * with one trigger per rewrite rule, each run bare and with its trigger
  * text inside a string literal, a double-quoted and a backquoted
  * identifier, a line comment and a block comment, and after a run of
  * quoted and commented text holding stray quotes, parens and `;`; plus the
  * statement splitter over scripts that hide `;` the same ways. The
  * expected outputs (`sql_dialect_golden.json`) freeze the current
  * behaviour: a rule that starts or stops firing inside a quoted or
  * commented span shows up as a changed case. */
class SqlDialectCharacterizationSpec extends SparkTestBase {
  import SqlDialectCharacterizationSpec._

  test("normalize and statement splitting match the frozen golden outputs") {
    val golden = load()
    val got = outputs(spark.newSession())
    assert(got.map(_._1) == golden.map(_._1), "the case list changed")
    val diffs = got.zip(golden).collect {
      case ((id, in, out), (_, _, want)) if out != want =>
        s"$id\n  in  : $in\n  want: ${want.mkString(" ;; ")}\n  got : ${out.mkString(" ;; ")}"
    }
    assert(diffs.isEmpty, diffs.mkString(s"${diffs.size} cases differ:\n", "\n", ""))
  }
}

object SqlDialectCharacterizationSpec {

  /** Expression-level triggers, placed in a SELECT list. */
  val exprTriggers: Seq[(String, String)] = Seq(
    "backslash" -> """'C:\dir'""",
    "cast_json_map" -> """CAST(JSON '{"a":"b"}' AS MAP(VARCHAR, VARCHAR))""",
    "json_literal" -> """JSON '{"a":1}'""",
    "decimal_literal" -> "DECIMAL '0.95'",
    "time_literal" -> "TIME '12:00:00'",
    "timestamp_zone" -> "TIMESTAMP '2020-01-01 00:00:00 UTC'",
    "timestamp_precision" -> "CAST(ts AS timestamp(3))",
    "timestamp_tz" -> "CAST(ts AS timestamp with time zone)",
    "varchar" -> "CAST(x AS varchar)",
    "array_brackets" -> "ARRAY[1, ARRAY[2, 3][1]]",
    "map_arrays" -> "MAP(array('a'), array(1))",
    "array_concat" -> "array_concat(a, b)",
    "list_transform" -> "list_transform(a, x -> x + 1)",
    "starts_with" -> "starts_with(s, 'a')",
    "approx_quantile" -> "approx_quantile(x, 0.5)",
    "time_fn" -> "time('12:00')",
    "ignore_nulls_args" -> "lag(x IGNORE NULLS, 1, 0) OVER (ORDER BY y)",
    "ignore_nulls_one" -> "first_value(x IGNORE NULLS) OVER (ORDER BY y)",
    "catalog_dq" -> "\"catalog\".s.f(1)",
    "at_time_zone_ident" -> "ts AT TIME ZONE 'UTC'",
    "at_time_zone_call" -> "CAST(s AS timestamp) AT TIME ZONE 'America/New_York'",
    "at_time_zone_literal" -> "TIMESTAMP '2020-01-01 00:00:00' AT TIME ZONE 'UTC'",
    "two_arg_if" -> "if(x > 1, 'y')",
    "two_arg_if_nested" -> "if(f(a, b), g(c, d))",
    "map_braces" -> "MAP {'k1': 1, 'k2': f(2, 3)}",
    "array_agg_order" -> "array_agg(x ORDER BY y DESC NULLS LAST, z)",
    "array_agg_distinct" -> "array_agg(DISTINCT x ORDER BY y)",
    "underscore_lambda" -> "transform(a, _ -> _ + 1)",
    "row_cast" -> "CAST(ROW(1, 'a') AS ROW(id bigint, name varchar))",
    "row_value" -> "ROW(1, 2)",
    "json_object_pairs" -> "JSON_OBJECT('k', v, 'k2', 2)",
    "json_object_key_value" -> "JSON_OBJECT(KEY 'k' VALUE v ABSENT ON NULL)",
    "paren_lambda" -> "transform(a, (x) -> x * 2)",
    "identity_lambda" -> "filter(array(1, 0, NULL), x -> x)",
    "identity_lambda_value" -> "transform(a, x -> x)",
    "int_division" -> "a // b",
    "ipaddress_literal" -> "IPADDRESS '10.0.0.1'",
    "ipaddress_dq" -> "IPADDRESS \"10.0.0.1\"",
    "ipaddress_call" -> "IPADDRESS('10.0.0.1')",
    "catalog_plain" -> "catalog.s.f(1)",
    "td_call" -> "TD_TIME_FORMAT(ts, 'yyyy', 'UTC')")

  /** Whole-statement triggers, run in this order through one session (the
    * PREPARE rows register what the EXECUTE and DESCRIBE rows read). */
  val stmtTriggers: Seq[(String, String)] = Seq(
    "prepare" -> "PREPARE golden_p FROM SELECT ? AS a, '?' AS b, \"c?\" AS c, $1 AS d, $name AS e",
    "execute_using" -> "EXECUTE golden_p USING 7, 'x', 8",
    "execute_parens" -> "EXECUTE golden_p(1, 2)",
    "describe_input" -> "DESCRIBE INPUT golden_p",
    "describe_output" -> "DESCRIBE OUTPUT golden_p",
    "deallocate" -> "DEALLOCATE PREPARE golden_p",
    "set_session" -> "SET SESSION spark.sql.golden = 'v'",
    "show_create_schema" -> "SHOW CREATE SCHEMA s",
    "show_stats" -> "SHOW STATS FOR t",
    "show_grants" -> "SHOW GRANTS ON t",
    "show_session" -> "SHOW SESSION",
    "show_create_view" -> "SHOW CREATE VIEW v",
    "explain_opts" -> "EXPLAIN (TYPE LOGICAL) SELECT 1",
    "explain_analyze" -> "EXPLAIN ANALYZE VERBOSE SELECT 1",
    "explain_plan_for" -> "EXPLAIN PLAN FOR SELECT 1",
    "alter_set_properties" -> "ALTER TABLE golden_missing SET PROPERTIES a = 1, b = 'x,y'",
    "alter_rename" -> "ALTER TABLE golden_missing RENAME TO golden_other",
    "alter_if_exists" -> "ALTER TABLE IF EXISTS golden_missing RENAME TO golden_other",
    "create_or_replace" -> "CREATE OR REPLACE TABLE golden_t AS SELECT 1 AS x",
    "create_types" ->
      "CREATE TABLE golden_t (a text, b serial DEFAULT 0, c jsonb) WITH (format = 'PARQUET')",
    "create_ctas_columns" -> "CREATE TABLE golden_t (a varchar, b int) AS SELECT 'x' AS a, 1 AS b",
    "create_placeholder" -> "CREATE TABLE golden_t WITH (k = 'v')",
    "create_ctas_like" -> "CREATE TABLE golden_t AS SELECT if(n LIKE 'p%', 1, 0) AS f FROM t",
    "create_stored_as" -> "CREATE TABLE golden_t STORED AS PARQUET AS SELECT 1 AS x",
    "insert_paren_with" -> "INSERT INTO t (WITH a AS (SELECT 1 AS x) SELECT x FROM a)",
    "tablesample" -> "SELECT * FROM t TABLESAMPLE BERNOULLI (10 * 2)",
    "using_sample_percent" -> "SELECT * FROM t USING SAMPLE 10%",
    "using_sample_reservoir" -> "SELECT * FROM t USING SAMPLE reservoir(5%)",
    "using_sample_rows" -> "SELECT * FROM t USING SAMPLE 5 rows",
    "fetch_first" -> "SELECT * FROM t FETCH FIRST 3 ROWS ONLY",
    "each_top_k" -> "SELECT each_top_k(2, g, s, a) AS (rk, sc, a) FROM t",
    "values_columns" -> "SELECT column1, column2 FROM (VALUES (1, 2))",
    "values_struct_rows" -> "SELECT x FROM (VALUES (struct(1 AS a)), (struct(2 AS a))) AS t(x)",
    "orderless_window" -> "SELECT row_number() OVER (PARTITION BY g) AS rn FROM t",
    "catalog_table" -> "SELECT * FROM catalog.s.t")

  /** Raw `sql"…"` fragments (normalizeRawFragment): bare array literals. */
  val fragmentTriggers: Seq[(String, String)] = Seq(
    "bare_array" -> "[1, 2, 3]",
    "subscript" -> "arr[1] + f(x)[2]")

  /** Scripts for the statement splitter. */
  val scripts: Seq[(String, String)] = Seq(
    "split_plain" -> "SELECT 1; SELECT 2;",
    "split_string" -> "SELECT 'a;b'; SELECT 2",
    "split_escaped_string" -> "SELECT 'it''s;'; SELECT 2",
    "split_dq" -> "SELECT 1 AS \"a;b\"; SELECT 2",
    "split_line_comment" -> "SELECT 1 -- a; b\n; SELECT 2",
    "split_empty" -> "SELECT 1; ; SELECT 2",
    "split_no_semicolon" -> "-- header\nSELECT 1\n\nSELECT 2\n\n-- trailing only",
    "split_with_prelude" -> "WITH a AS (SELECT 1 AS x)\n\nSELECT x FROM a\n\nSELECT 3",
    "split_nested_with" -> "with a as (\n\nselect 1 as x\n), b as (select 2 as y)\n\nselect * from a, b")

  private def wrapExpr(t: String): Seq[(String, String)] = Seq(
    "code" -> s"SELECT $t AS v FROM t",
    "string" -> s"SELECT '${t.replace("'", "''")}' AS v FROM t",
    "dq" -> s"""SELECT 1 AS "${t.replace("\"", "\"\"")}" FROM t""",
    "bt" -> s"SELECT 1 AS `${t.replace("`", "``")}` FROM t",
    "line" -> s"SELECT 1 AS v -- $t\nFROM t",
    "block" -> s"SELECT 1 AS v /* $t */ FROM t",
    "after" -> s"SELECT /* it's; (x */ 'a''b)' AS s, \"c'd(\" AS e, `f'g(` AS h, -- don't (\n$t AS v FROM t")

  private def wrapStmt(t: String): Seq[(String, String)] = Seq(
    "code" -> t,
    "lead_line" -> s"-- don't; (\n$t",
    "lead_block" -> s"/* don't; ( */ $t",
    "string" -> s"SELECT '${t.replace("'", "''")}' AS v",
    "dq" -> s"""SELECT 1 AS "${t.replace("\"", "\"\"")}"""",
    "bt" -> s"SELECT 1 AS `${t.replace("`", "``")}`",
    "line" -> s"SELECT 1 AS v -- $t",
    "block" -> s"SELECT 1 AS v /* $t */")

  /** (id, kind, input) in run order. */
  def cases: Seq[(String, String, String)] =
    stmtTriggers.flatMap { case (n, t) => wrapStmt(t).map { case (w, s) => (s"stmt.$n.$w", "normalize", s) } } ++
      exprTriggers.flatMap { case (n, t) => wrapExpr(t).map { case (w, s) => (s"expr.$n.$w", "normalize", s) } } ++
      fragmentTriggers.flatMap { case (n, t) => wrapExpr(t).map { case (w, s) => (s"fragment.$n.$w", "fragment", s) } } ++
      scripts.map { case (n, s) => (s"split.$n", "split", s) }

  /** (id, input, outputs); a thrown error is recorded as its class name. */
  def outputs(spark: org.apache.spark.sql.SparkSession): Seq[(String, String, List[String])] =
    cases.map { case (id, kind, in) =>
      val out =
        try kind match {
          case "normalize" => SqlDialect.normalize(spark, in)
          case "fragment" => List(SqlDialect.normalizeRawFragment(in))
          case "split" => Graft.splitSqlStatements(in)
        } catch { case e: Exception => List(s"!error ${e.getClass.getSimpleName}") }
      (id, in, out)
    }

  private val resource = "/sql_dialect_golden.json"

  def load(): Seq[(String, String, List[String])] = {
    val node = new ObjectMapper().readTree(getClass.getResourceAsStream(resource))
    node.elements().asScala.map { c =>
      (c.get("id").asText, c.get("in").asText, c.get("out").elements().asScala.map(_.asText).toList)
    }.toSeq
  }
}
