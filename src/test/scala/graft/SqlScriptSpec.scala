package graft

/** The SQL front-end's scripts: the served tables registered as temp
  * views, statement splitting, and statement rewrites behind a comment. */
class SqlScriptSpec extends SparkTestBase {

  test("a dropped table view is registered again after its handle is collected") {
    val s = spark.newSession()
    def nations() = Graft.sqlScript(s, "SELECT count(*) FROM nation", Some(sfDir)).head().getLong(0)
    assert(nations() == 25L)
    val ref = new java.lang.ref.WeakReference[AnyRef](
      s.sessionState.catalog.getRawTempView("nation").get)
    s.sql("DROP VIEW nation")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "the dropped view was never collected")
    assert(nations() == 25L)
  }

  private def last(script: String): List[Any] =
    Graft.sqlScript(spark, script, None).collect().map(_.get(0)).toList

  test("a ; inside a block comment does not end the statement") {
    assert(Graft.splitSqlStatements("SELECT 1 /* a; b */; SELECT 2").length == 2)
    assert(last("SELECT 1 AS x /* a; b */; SELECT 2 AS y") == List(2))
  }

  test("an apostrophe inside a block comment opens no string") {
    assert(Graft.splitSqlStatements("SELECT 1 /* don't */; SELECT 2").length == 2)
    assert(last("SELECT 1 AS x /* don't */; SELECT 2 AS y") == List(2))
  }

  test("a ; inside a backquoted identifier does not end the statement") {
    assert(Graft.splitSqlStatements("SELECT 1 AS `a;b`; SELECT 2").length == 2)
    assert(last("SELECT 1 AS `a;b`; SELECT 2 AS y") == List(2))
  }

  test("a block comment before DELETE, ALTER or PREPARE keeps the statement's rewrite") {
    spark.sql("DROP TABLE IF EXISTS sql_comment_dml")
    spark.sql("CREATE TABLE sql_comment_dml USING parquet PARTITIONED BY (p) AS " +
      "SELECT * FROM VALUES (1, 'a', 10), (2, 'b', 20) AS t(id, v, p)")
    Graft.sqlScript(spark, "/* header */ DELETE FROM sql_comment_dml WHERE id = 1", None)
    assert(spark.table("sql_comment_dml").collect().map(_.getAs[Int]("id")).toList == List(2))
    Graft.sqlScript(spark, "/* header */ ALTER TABLE sql_comment_dml DROP COLUMN v", None)
    assert(spark.table("sql_comment_dml").columns.toList == List("id", "p"))
    spark.sql("DROP TABLE IF EXISTS sql_comment_dml")
    assert(last("/* header */ PREPARE sql_comment_q FROM SELECT ? AS x; EXECUTE sql_comment_q USING 5") ==
      List(5))
  }
}
