package graft.lang

import graft.{Graft, SparkTestBase}

/** PREPARE / EXECUTE / DEALLOCATE through the SQL front-end (reference:
  * sqlPlan.scala prepared statements; Trino `USING` and DuckDB `(args)` /
  * `$n` / `$name` parameter styles). */
class SqlPrepareSpec extends SparkTestBase {

  test("prepare + execute with USING and ? parameters") {
    val rows = Graft.sqlScript(spark,
      """PREPARE q1 FROM SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(id, s)
         WHERE id >= ? AND id < ?;
         EXECUTE q1 USING 2, 3""", None).collect()
    assert(rows.map(_.getInt(0)).toList == List(2))
  }

  test("execute with DuckDB parenthesized args and $n positions") {
    val rows = Graft.sqlScript(spark,
      """PREPARE q2 AS SELECT * FROM (VALUES ('x', 10), ('y', 20)) t(s, v)
         WHERE v >= $2 AND s = $1;
         EXECUTE q2('y', 15)""", None).collect()
    assert(rows.map(_.getString(0)).toList == List("y"))
  }

  test("deallocate removes; executing after is an error") {
    Graft.sqlScript(spark, "PREPARE q3 AS SELECT 1 AS one; DEALLOCATE q3", None)
    intercept[IllegalArgumentException] {
      Graft.sqlScript(spark, "EXECUTE q3", None)
    }
  }

  test("a statement prepared in one session is not found from another") {
    Graft.sqlScript(spark, "PREPARE q4 AS SELECT 1 AS one", None)
    val other = spark.newSession()
    val err = intercept[IllegalArgumentException] {
      Graft.sqlScript(other, "EXECUTE q4", None)
    }
    assert(err.getMessage.contains("not found"), err.getMessage)
    assert(Graft.sqlScript(spark, "EXECUTE q4", None).collect().map(_.getInt(0)).toList == List(1))
  }

  test("a ? inside a comment is not a parameter") {
    val rows = Graft.sqlScript(spark,
      "PREPARE q6 FROM SELECT /* ? */ ? AS x; EXECUTE q6 USING 5", None).collect()
    assert(rows.map(_.getInt(0)).toList == List(5))
  }

  test("DESCRIBE INPUT counts no ? inside a quoted identifier") {
    val rows = Graft.sqlScript(spark,
      """PREPARE q7 FROM SELECT ? AS "a?"; DESCRIBE INPUT q7""", None).collect()
    assert(rows.length == 1)
  }
}
