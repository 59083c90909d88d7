package graft.lang

import graft.SparkTestBase

/** Executes the reference's spec/sql/basic corpus (69 files; the reference
  * itself parse-tests them via ParserSpecSqlBasic) through the SQL
  * front-end: every statement of every included file must EXECUTE on Spark
  * after the dialect shim (graft.SqlDialect) normalizes the DuckDB/Trino
  * idioms the corpus uses. Excluded files carry reasons. */
class RefSqlSpec extends SparkTestBase {

  private val sqlDir = graft.catalog.ReferenceCorpus.path("spec/sql/basic")

  /** files we do not run in the sequential loop, with reasons */
  private val excluded: Map[String, String] = Map(
    "alter-table.sql" ->
      ("state-inconsistent as a sequence on ANY engine (adds `description` twice without IF NOT " +
        "EXISTS) — executed per-statement with a fresh fixture in the dedicated test below"),
    "non-reserved-keywords.sql" ->
      ("executed per-statement in the dedicated test below: 35 of 36 statements run green " +
        "(Spark's default parser keeps these keywords non-reserved too); only `SELECT all AS …` " +
        "is tolerated — ALL immediately after SELECT is the set quantifier in every ANSI grammar"),
    "at-alias.sql" ->
      ("executed per-statement in the dedicated test below: the 5 well-formed statements run " +
        "green; the 6 that reference AT.id on an anonymous VALUES relation (columns col1/col2 " +
        "on every engine) are unresolvable by construction and tolerated with that reason"),
    "map-alias.sql" ->
      ("executed per-statement in the dedicated test below: the 8 statements using map as a " +
        "normal alias run green; the 4 double-alias forms (`AS users(id, name) map`) are a " +
        "Trino parser-property test — invalid SQL on other engines — and tolerated"),
    "prepared-statements.sql" ->
      ("two statements are state-inconsistent (EXECUTE after DEALLOCATE / without PREPARE) — " +
        "executed per-statement with those tolerated in the dedicated test below; " +
        "PREPARE/EXECUTE/DEALLOCATE execution semantics are additionally covered in SqlPrepareSpec"),
    "date-time-function-calls.sql" ->
      ("executed per-statement in the dedicated test below: 4 of 5 statements run green " +
        "(date()/time()/timestamp() calls and typed literals); only date() over an " +
        "epoch-seconds string is tolerated — invalid input on every engine, and the file " +
        "itself documents execution-ignored")
  )

  /** tiny fixture tables/views several corpus files reference (the corpus
    * assumes Trino-style catalogs: information_schema, a `schema` schema,
    * unprefixed-column tpch tables, ad-hoc names) */
  private def fixtures(): Unit = {
    // the derby metastore dies with each JVM but spark-warehouse survives —
    // remove stale table locations the corpus files create and drop
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    val wh = new java.io.File("spark-warehouse")
    if (wh.isDirectory) wh.listFiles().foreach { d =>
      if (d.getName.startsWith("test_") || d.getName.startsWith("tmp_table") ||
          d.getName.startsWith("__graft_delete_tmp") ||
          d.getName.startsWith("information_schema") ||
          d.getName.startsWith("schema.db") || d.getName.startsWith("main.db") ||
          d.getName.startsWith("simple_table")) rmrf(d)
    }
    spark.sql("DROP TABLE IF EXISTS test_delete_table")
    Seq("test_ctas_basic", "test_ctas_ifnotexists", "test_ctas_replace",
      "test_table", "tmp_table", "test_comment_basic").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW person AS
         SELECT * FROM VALUES ('Alice', 30, 'Tokyo', 1000.0), ('Bob', 45, 'Osaka', 2000.0)
         AS t(name, age, city, salary)""")
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW nation AS
         SELECT * FROM VALUES (1, 1, 'JAPAN', 'c1'), (2, 2, 'FRANCE', 'c2')
         AS t(nationkey, regionkey, name, comment)""")
    spark.sql("CREATE DATABASE IF NOT EXISTS information_schema")
    spark.sql(
      """CREATE TABLE IF NOT EXISTS information_schema.tables
         USING parquet AS SELECT 'person' AS table_name, 'default' AS table_schema""")
    spark.sql(
      """CREATE TABLE IF NOT EXISTS information_schema.columns
         USING parquet AS SELECT 'person' AS table_name, 'name' AS column_name""")
    spark.sql("CREATE DATABASE IF NOT EXISTS schema")
    spark.sql(
      "CREATE TABLE IF NOT EXISTS schema.table USING parquet AS SELECT 1 AS id")
    spark.sql(
      "CREATE TABLE IF NOT EXISTS schema.table_name USING parquet AS SELECT 1 AS id")
    spark.sql("CREATE DATABASE IF NOT EXISTS main")
    spark.sql("CREATE TABLE IF NOT EXISTS simple_table USING parquet AS SELECT 1 AS id")
    // permanent view: SHOW CREATE TABLE rejects temp views
    spark.sql("CREATE OR REPLACE VIEW test_view AS SELECT 1 AS v")
  }

  test("sql/benchmark corpus: every query executes") {
    val dir = graft.catalog.ReferenceCorpus.path("spec/sql/benchmark")
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".sql"))
      .sortBy(_.getName).foreach { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
        val n = graft.Graft.sqlScript(spark, text, None).count()
        info(s"${f.getName} -> $n rows")
        assert(n > 0, s"${f.getName} returned no rows")
      }
  }

  test("sql/basic corpus: included files execute statement-by-statement") {
    fixtures()
    val files = new java.io.File(sqlDir).listFiles()
      .filter(_.getName.endsWith(".sql")).map(_.getName).sorted
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var ran = 0
    files.foreach { f =>
      if (!excluded.contains(f)) {
        val text = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$sqlDir/$f")))
        try {
          graft.Graft.sqlScript(spark, text, None).collect()
          ran += 1
        } catch {
          case e: Throwable =>
            failures += f -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(200)}"
        }
      }
    }
    info(s"$ran/${files.length} files executed green, ${excluded.size} excluded")
    failures.foreach { case (f, m) => info(s"FAIL $f: $m") }
    assert(ran >= 50, s"expected >=50 green files, got $ran; failures: ${failures.map(_._1).mkString(", ")}")
    assert(failures.isEmpty, s"${failures.size} files failed")
  }

  test("prepared-statements.sql: every consistent statement executes") {
    // The corpus is parse-only and state-inconsistent: it EXECUTEs
    // my_select1 after DEALLOCATE and simple_query without any PREPARE.
    // Those two fail on ANY engine; the other 18 statements must run
    // (including the (40, 'B') rebind — startswith coerces the int).
    fixtures()
    val tolerated = Map(
      "EXECUTE my_select1()" -> "my_select1 was DEALLOCATEd six statements earlier",
      "EXECUTE simple_query()" -> "simple_query is never PREPAREd"
    )
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sqlDir/prepared-statements.sql")))
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    var ran = 0
    var tol = 0
    graft.Graft.splitSqlStatements(text).foreach { stmt =>
      try {
        graft.Graft.sqlScript(spark, stmt, None).collect()
        ran += 1
      } catch {
        case e: Throwable =>
          if (tolerated.keys.exists(stmt.contains)) tol += 1
          else failures += s"$stmt -> ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    info(s"$ran statements executed green, $tol tolerated (documented)")
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(ran == 18 && tol == 2, s"ran=$ran tolerated=$tol")
  }

  test("at-alias.sql: well-formed statements execute; anonymous-VALUES refs tolerated") {
    // AT is not a Spark keyword, so `VALUES … at (cols)` aliases just work.
    // Six statements reference at.id on a bare `VALUES (…) AT` — an
    // anonymous inline table whose columns are col1/col2 (Trino: _col0…),
    // so the reference is unresolvable on EVERY engine; the reference
    // itself only parse-tests this file.
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sqlDir/at-alias.sql")))
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    var ran = 0
    var tol = 0
    graft.Graft.splitSqlStatements(text).foreach { stmt =>
      try {
        graft.Graft.sqlScript(spark, stmt, None).collect()
        ran += 1
      } catch {
        case e: Throwable =>
          val unresolvableAtRef =
            String.valueOf(e.getMessage).contains("UNRESOLVED_COLUMN") &&
              stmt.matches("(?is).*\\bat\\s*\\.\\s*(id|name)\\b.*")
          if (unresolvableAtRef) tol += 1
          else failures += s"$stmt -> ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    info(s"$ran statements executed green, $tol tolerated (anonymous-VALUES at.id refs)")
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(ran == 5 && tol == 6, s"ran=$ran tolerated=$tol")
  }

  test("map-alias.sql: map-as-alias statements execute; double-alias forms tolerated") {
    // `map` is an ordinary identifier in Spark's grammar, so single-alias
    // uses (JOIN … AS map(cols), subquery ) map, field access map.x) run
    // as-is. The four `AS users(id, name) map` double-alias statements are
    // the file's parser-property probe — not valid SQL on engines other
    // than the reference's own forked parser.
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sqlDir/map-alias.sql")))
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    var ran = 0
    var tol = 0
    graft.Graft.splitSqlStatements(text).foreach { stmt =>
      try {
        graft.Graft.sqlScript(spark, stmt, None).collect()
        ran += 1
      } catch {
        case e: Throwable =>
          val doubleAlias =
            String.valueOf(e.getMessage).contains("PARSE_SYNTAX_ERROR") &&
              stmt.matches("(?is).*\\)\\s*AS\\s+\\w+\\s*\\([^)]*\\)\\s+(AS\\s+)?\\w+\\s*(;.*|)")
          if (doubleAlias) tol += 1
          else failures += s"$stmt -> ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    info(s"$ran statements executed green, $tol tolerated (double-alias parser probes)")
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(ran == 8 && tol == 4, s"ran=$ran tolerated=$tol")
  }

  test("non-reserved-keywords.sql: keyword identifiers execute; SELECT-ALL probe tolerated") {
    // Spark's default parser (enforceReservedKeywords=false) keeps these
    // keywords usable as identifiers, so the corpus runs as-is. The one
    // exception: `SELECT all AS …` — ALL immediately after SELECT is the
    // set quantifier in every ANSI-derived grammar (Trino included); only
    // the reference's forked parser re-reads it as an identifier.
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sqlDir/non-reserved-keywords.sql")))
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    var ran = 0
    var tol = 0
    graft.Graft.splitSqlStatements(text).foreach { stmt =>
      try {
        graft.Graft.sqlScript(spark, stmt, None).collect()
        ran += 1
      } catch {
        case e: Throwable =>
          if (stmt.matches("(?is).*SELECT\\s+all\\s+AS\\s.*")) tol += 1
          else failures += s"$stmt -> ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    info(s"$ran statements executed green, $tol tolerated (SELECT-ALL quantifier probe)")
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(ran == 35 && tol == 1, s"ran=$ran tolerated=$tol")
  }

  test("date-time-function-calls.sql: calls and literals execute; epoch-string cast tolerated") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sqlDir/date-time-function-calls.sql")))
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    var ran = 0
    var tol = 0
    graft.Graft.splitSqlStatements(text).foreach { stmt =>
      try {
        graft.Graft.sqlScript(spark, stmt, None).collect()
        ran += 1
      } catch {
        case e: Throwable =>
          // date(cast(1755446400 as varchar)): an epoch-seconds STRING is
          // not a date literal on any engine; the file marks execution
          // ignored for exactly this reason
          if (String.valueOf(e.getMessage).contains("CAST_INVALID_INPUT") &&
              stmt.contains("1755446400")) tol += 1
          else failures += s"$stmt -> ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    info(s"$ran statements executed green, $tol tolerated (epoch-string date cast)")
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(ran == 4 && tol == 1, s"ran=$ran tolerated=$tol")
  }

  test("alter-table.sql: every statement executes against a fresh fixture") {
    // The corpus is parse-only and state-inconsistent as a sequence (it
    // ADDs `description` twice without IF NOT EXISTS — no engine can run
    // it start-to-finish), so each statement gets a satisfiable
    // precondition: the pre-ADD schema for ADD COLUMN statements, the
    // post-ADD schema for everything else. The ALTER translations
    // themselves are engine code (SqlDialect.normalizeAlterTable):
    // RENAME TO/ADD COLUMNS/SET TBLPROPERTIES/column defaults are native
    // DDL; DROP/RENAME COLUMN and type changes are read-transform-
    // overwrite rewrites (plain parquet has no copy-on-write layer);
    // SET AUTHORIZATION / EXECUTE optimize|vacuum / SET|DROP NOT NULL are
    // no-ops (governance and maintenance markers with no parquet meaning);
    // EXECUTE analyze maps to ANALYZE TABLE.
    def rmrfW(n: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(s"spark-warehouse/$n"))
    }
    def reset(forAdd: Boolean): Unit = {
      Seq("users", "customers").foreach { t =>
        spark.catalog.dropTempView(t)
        spark.sql(s"DROP TABLE IF EXISTS $t"); rmrfW(t)
      }
      val extra = if (forAdd) "" else ", email STRING, description STRING"
      spark.sql(s"CREATE TABLE users (age INT, old_name STRING, i STRING, j STRING$extra) USING parquet")
      spark.sql("INSERT INTO users VALUES (30, 'o', 'a', 'b'" +
        (if (forAdd) ")" else ", 'e', 'd')"))
    }
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sqlDir/alter-table.sql")))
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    var ran = 0
    graft.Graft.splitSqlStatements(text).foreach { stmt =>
      reset(forAdd = """(?is).*\bADD\s+COLUMN\b.*""".r.pattern.matcher(stmt).matches())
      try {
        graft.Graft.sqlScript(spark, stmt, None).collect()
        ran += 1
      } catch {
        case e: Throwable =>
          failures += s"${stmt.linesIterator.toList.lastOption.getOrElse("")} -> ${String.valueOf(e.getMessage).take(160)}"
      }
    }
    info(s"$ran statements executed green")
    failures.foreach(f => info(s"FAIL $f"))
    assert(failures.isEmpty, s"${failures.size} ALTER statements failed:\n${failures.mkString("\n")}")
    // the rewrites really happen: DROP COLUMN via table rewrite
    reset(forAdd = false)
    graft.Graft.sqlScript(spark, "ALTER TABLE users DROP COLUMN email", None)
    assert(!spark.table("users").columns.contains("email"))
    // type change via rewrite with USING expression
    reset(forAdd = false)
    graft.Graft.sqlScript(spark,
      "ALTER TABLE users ALTER COLUMN i SET DATA TYPE VARCHAR USING concat(i, '_', j)", None)
    assert(spark.table("users").select("i").collect().head.getString(0) == "a_b")
  }
}
