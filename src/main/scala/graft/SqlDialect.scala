package graft

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** DuckDB/Trino → Spark SQL dialect normalization for the SQL front-end
  * (reference: SqlParser.scala, 3,722 LoC, parses these dialects into the
  * shared plan; here Spark's parser is the backend, so the recurring
  * dialect idioms are rewritten TEXTUALLY before parsing — playing the
  * role of the reference's dialect-specific codegen in reverse).
  *
  * Every pass reads the text through [[SqlText]]: rules apply only to
  * code, never inside string literals, quoted identifiers or comments
  * (except backslash doubling, which applies inside strings), so `'a[b]'`
  * or `'DECIMAL ''x'''` content is never touched.
  */
object SqlDialect {

  // --- prepared-statement registry (PREPARE / EXECUTE / DEALLOCATE) --------
  // One registry per session, weakly keyed: a dead session's statements go
  // with it, and the values are strings, so nothing pins the session.
  private val prepared = new java.util.WeakHashMap[SparkSession, TrieMap[String, String]]()

  private def statements(spark: SparkSession): TrieMap[String, String] =
    prepared.synchronized(prepared.computeIfAbsent(spark, _ => TrieMap.empty))

  // --- statement forms, compiled once -------------------------------------
  private val prepRe = """(?is)^PREPARE\s+([A-Za-z_][A-Za-z0-9_]*)\s+(FROM|AS)\s+(.+)$""".r
  private val deallocRe = """(?is)^DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*$""".r
  private val execRe =
    """(?is)^EXECUTE\s+([A-Za-z_][A-Za-z0-9_]*)\s*(?:USING\s+(.+)|\(\s*(.*?)\s*\))?\s*$""".r
  private val descInRe = """(?is)^DESCRIBE\s+INPUT\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*$""".r
  private val descOutRe = """(?is)^DESCRIBE\s+OUTPUT\s+["`]?([A-Za-z_][A-Za-z0-9_]*)["`]?\s*$""".r
  private val setSessRe = """(?is)^SET\s+SESSION\s+([\w.]+)\s*=\s*(.+)$""".r
  private val explainOptsRe = """(?is)^EXPLAIN\s*\(\s*[^)]*\)\s*(.+)$""".r
  private val explainAnalyzeRe = """(?is)^EXPLAIN\s+ANALYZE\s+(?:VERBOSE\s+)?(.+)$""".r
  private val explainPlanForRe = """(?is)^EXPLAIN\s+PLAN\s+FOR\s+(.+)$""".r
  private val alterTableRe = """(?s)ALTER\s+TABLE\b.*""".r
  private val cortRe = """(?is)^CREATE\s+OR\s+REPLACE\s+TABLE\s+(\S+)\s+(.*)$""".r
  private val delRe = """(?is)^DELETE\s+FROM\s+(\S+)\s+WHERE\s+(.+)$""".r

  /** Normalize one statement; returns the Spark statements to actually run
    * (possibly several, possibly none for pure-registration statements). */
  def normalize(spark: SparkSession, stmt0: String): List[String] = {
    val stmt = stmt0.trim
    val bare = new SqlText(stmt).withoutComments.trim
    if (bare.isEmpty) return Nil

    // PREPARE name FROM <q> (Trino) / PREPARE name AS <q> (DuckDB)
    bare match {
      case prepRe(name, _, query) =>
        statements(spark).put(name.toLowerCase, query.trim)
        return Nil
      case _ =>
    }
    // DEALLOCATE [PREPARE] name
    bare match {
      case deallocRe(name) =>
        statements(spark).remove(name.toLowerCase)
        return Nil
      case _ =>
    }
    // EXECUTE name [USING a, b] / EXECUTE name(a, b) / EXECUTE name
    bare match {
      case execRe(name, usingArgs, parenArgs) =>
        val q = statements(spark).getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"prepared statement '$name' not found"))
        val args = Option(usingArgs).orElse(Option(parenArgs)).map(_.trim)
          .filter(_.nonEmpty).map(SqlText.items).getOrElse(Nil)
        return normalize(spark, bindParams(q, args))
      case _ =>
    }
    // DESCRIBE INPUT name → one row per `?` parameter of the registered
    // statement (Trino's column shape: Position, Type — types are unknown
    // without an analyzer pass, Trino itself prints `unknown` for bare ?);
    // an unregistered name yields the empty result (the corpus DESCRIBEs
    // statements it never PREPAREd — parse-only surface).
    bare match {
      case descInRe(name) =>
        val params = statements(spark).get(name.toLowerCase).fold(0) { q =>
          val t = new SqlText(q)
          q.indices.count(i => q.charAt(i) == '?' && t.isCode(i))
        }
        return List(
          if (params == 0)
            "SELECT CAST(NULL AS INT) AS position, CAST(NULL AS STRING) AS type WHERE FALSE"
          else
            (0 until params).map(i => s"SELECT $i AS position, 'unknown' AS type")
              .mkString(" UNION ALL "))
      case _ =>
    }
    // DESCRIBE OUTPUT name → Trino's output-metadata shape; empty without
    // an analyzer pass over the registered statement
    if (descOutRe.pattern.matcher(bare).matches())
      return List(
        "SELECT CAST(NULL AS STRING) AS column_name, CAST(NULL AS STRING) AS type WHERE FALSE")
    // SET SESSION key = value → Spark SET (arbitrary conf keys are legal)
    bare match {
      case setSessRe(k, v) => return List(s"SET $k=${v.trim.stripPrefix("'").stripSuffix("'")}")
      case _ =>
    }
    // Trino SHOW statements Spark lacks → executable equivalents
    normalizeTrinoShow(bare) match {
      case Some(r) => return r
      case None =>
    }
    // EXPLAIN (TYPE …, FORMAT …) / EXPLAIN ANALYZE [VERBOSE] / EXPLAIN PLAN
    // FOR → Spark explain modes (one text plan per statement; Trino's
    // type/format axes have no Spark equivalent beyond FORMATTED/EXTENDED)
    bare match {
      case explainOptsRe(q) => return normalize(spark, s"EXPLAIN FORMATTED $q")
      case explainAnalyzeRe(q) => return normalize(spark, s"EXPLAIN $q")
      case explainPlanForRe(q) => return normalize(spark, s"EXPLAIN $q")
      case _ =>
    }
    // ALTER TABLE: the v1-expressible subset (rename/add/drop/rename-column/
    // type change) + no-op governance forms; column-shape ops on plain
    // parquet are read-transform-overwrite rewrites
    val upper = bare.toUpperCase
    if (alterTableRe.matches(upper))
      return normalizeAlterTable(spark, bare)
    // CREATE OR REPLACE TABLE t AS … → v1 tables lack RTAS; drop + create
    bare match {
      case cortRe(name, rest) =>
        return List(s"DROP TABLE IF EXISTS $name") ++
          normalize(spark, s"CREATE TABLE $name $rest")
      case _ =>
    }
    // DELETE FROM t WHERE c → rewrite the survivors in place, keeping the
    // table's partitioning/bucketing
    bare match {
      case delRe(name, cond) =>
        val plain = name.replace("`", "").replace("\"", "")
        val fixedCond = rewriteExpressions(cond)
        Tables.overwriteTable(spark, plain,
          spark.table(plain).filter(s"NOT coalesce(($fixedCond), false)"))
        return Nil
      case _ =>
    }
    // CREATE TABLE: Trino/Postgres DDL surface Spark lacks → normalize
    if (upper.startsWith("CREATE TABLE") || upper.startsWith("CREATE OR REPLACE TABLE"))
      return List(rewriteExpressions(normalizeCreateTable(spark, stmt)))
    List(rewriteExpressions(stmt))
  }

  private val showCreateSchema = """(?is)^SHOW\s+CREATE\s+SCHEMA\s+([\w.`"]+)\s*$""".r
  private val showCreateFn = """(?is)^SHOW\s+CREATE\s+FUNCTION\s+([\w.`"]+)\s*$""".r
  private val showCreateMv = """(?is)^SHOW\s+CREATE\s+MATERIALIZED\s+VIEW\s+([\w.`"]+)\s*$""".r
  private val showStats = """(?is)^SHOW\s+STATS\s+FOR\s+([\w.`"]+)\s*$""".r
  private val showBranches = """(?is)^SHOW\s+BRANCHES(\s+(FROM|IN)\s+TABLE\s+[\w.`"]+)?\s*$""".r
  private val showGrants = """(?is)^SHOW\s+GRANTS(\s+ON\s+[\w.`"]+)?\s*$""".r
  private val showRoles = """(?is)^SHOW\s+(CURRENT\s+ROLES|ROLE\s+GRANTS)(\s+(FROM|IN)\s+[\w.`"]+)?\s*$""".r
  private val showSession = """(?is)^SHOW\s+SESSION\s*$""".r

  /** Trino SHOW statements with no Spark spelling → executable results:
    * governance/branch listings (grants, roles, branches) are empty typed
    * results (plain parquet tables carry no such metadata — the honest
    * answer, not an error); SHOW SESSION → Spark SET (the session-conf
    * listing); SHOW CREATE SCHEMA/FUNCTION/MATERIALIZED VIEW → the
    * reconstructable DDL as a one-row result (Spark's SHOW CREATE covers
    * tables/views only); SHOW STATS FOR t → the per-column describe. */
  private def normalizeTrinoShow(bare: String): Option[List[String]] = {
    val b = bare.trim
    def one(sql: String) = Some(List(sql))
    b match {
      case showCreateSchema(n) =>
        one(s"SELECT 'CREATE SCHEMA ${n.replace("'", "''")}' AS create_schema")
      case showCreateFn(n) =>
        one(s"SELECT 'CREATE FUNCTION ${n.replace("'", "''")}' AS create_function")
      case showCreateMv(n) =>
        one(s"SELECT 'CREATE MATERIALIZED VIEW ${n.replace("'", "''")}' AS create_mv")
      case showStats(t) => one(s"DESCRIBE TABLE $t")
      case showBranches(_, _) =>
        one("SELECT CAST(NULL AS STRING) AS branch WHERE FALSE")
      case showGrants(_) =>
        one("SELECT CAST(NULL AS STRING) AS grantee, CAST(NULL AS STRING) AS privilege WHERE FALSE")
      case showRoles(_, _, _) =>
        one("SELECT CAST(NULL AS STRING) AS role WHERE FALSE")
      case showSession() => one("SET")
      case _ => None
    }
  }

  /** ALTER TABLE and the forms after its table name, compiled once. */
  private object Alter {
    val head = """(?is)^ALTER\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.`"]+)\s+(.*)$""".r
    val renameTo = """(?is)^RENAME\s+TO\s+([\w.`"]+)\s*$""".r
    val addCol =
      """(?is)^ADD\s+COLUMNS?\s+(IF\s+NOT\s+EXISTS\s+)?([\w`"]+)\s+(\w+(?:\s*\([^)]*\))?(?:\s*<[^>]*>)?)(\s+NOT\s+NULL)?(\s+COMMENT\s+'(?:[^']|'')*')?\s*$""".r
    val dropCol = """(?is)^DROP\s+COLUMNS?\s+(IF\s+EXISTS\s+)?([\w`"]+)\s*$""".r
    val renameCol =
      """(?is)^RENAME\s+COLUMN\s+(IF\s+EXISTS\s+)?([\w`"]+)\s+TO\s+([\w`"]+)\s*$""".r
    // DuckDB `ALTER c TYPE T [USING expr]` and standard
    // `ALTER COLUMN c SET DATA TYPE T [USING expr]` / `ALTER COLUMN c TYPE T`
    val colType =
      """(?is)^ALTER\s+(?:COLUMN\s+)?([\w`"]+)\s+(?:SET\s+DATA\s+TYPE|TYPE)\s+(\w+(?:\s*\([^)]*\))?)(?:\s+USING\s+(.+?))?\s*$""".r
    val setProps = """(?is)^SET\s+PROPERTIES\s+(.+)$""".r
    val colDefault =
      """(?is)^ALTER\s+COLUMN\s+([\w`"]+)\s+(SET\s+DEFAULT\s+.+|DROP\s+DEFAULT)\s*$""".r
    val notNullNoop =
      """(?is)^ALTER\s+COLUMN\s+[\w`"]+\s+(SET|DROP)\s+NOT\s+NULL\s*$""".r
    val setAuth = """(?is)^SET\s+AUTHORIZATION\b.*$""".r
    val execute = """(?is)^EXECUTE\s+(\w+)\b.*$""".r
  }

  /** ALTER TABLE dialect normalization. Catalog-level operations (RENAME
    * TO, ADD COLUMNS, SET TBLPROPERTIES, column defaults) map to Spark DDL;
    * column-shape operations v1 tables lack (DROP/RENAME COLUMN, type
    * change) are read-transform-overwrite rewrites executed here — the
    * same policy as the flow language's AlterTableStmt (Lowering.scala).
    * Governance/maintenance forms with no parquet meaning (SET
    * AUTHORIZATION, EXECUTE optimize/vacuum, SET/DROP NOT NULL) are
    * no-ops, mirroring how WITH-property blocks are stripped; EXECUTE
    * analyze maps to ANALYZE TABLE. */
  private def normalizeAlterTable(spark: SparkSession, bare: String): List[String] = {
    import Alter._
    bare match {
      case head(ifE, table0, rest0) =>
        val table = table0.replace("\"", "`")
        val plain = table.replace("`", "")
        val exists =
          try spark.catalog.tableExists(plain)
          catch { case _: Throwable => false }
        if (ifE != null && !exists) return Nil
        val rest = rest0.trim
        def schemaOf = spark.table(plain).schema
        def rewrite(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): List[String] = {
          Tables.overwriteTable(spark, plain, f(spark.table(plain)))
          Nil
        }
        def colName(c: String) = c.replace("`", "").replace("\"", "")
        def hasCol(c: String) = schemaOf.fieldNames.exists(_.equalsIgnoreCase(colName(c)))
        def sparkType(t: String) = translateTypeExpr(t)
        rest match {
          case renameTo(n) => List(s"ALTER TABLE $table RENAME TO $n")
          case addCol(ifNE, c, t, _, comment) =>
            if (ifNE != null && hasCol(c)) Nil // column already present
            else {
              val cmt = Option(comment).map(_.trim).map(" " + _).getOrElse("")
              // NOT NULL dropped: parquet v1 columns are nullable; the
              // constraint is unenforceable metadata here
              List(s"ALTER TABLE $table ADD COLUMNS ($c ${sparkType(t)}$cmt)")
            }
          case dropCol(ifE2, c) =>
            if (!hasCol(c)) {
              if (ifE2 != null) Nil
              else throw new IllegalArgumentException(s"column ${colName(c)} does not exist in $plain")
            } else rewrite(_.drop(colName(c)))
          case renameCol(ifE2, o, n) =>
            if (!hasCol(o)) {
              if (ifE2 != null) Nil
              else throw new IllegalArgumentException(s"column ${colName(o)} does not exist in $plain")
            } else rewrite(_.withColumnRenamed(colName(o), colName(n)))
          case colType(c, t, using) =>
            val cn = colName(c)
            val tpe = sparkType(t)
            if (using == null)
              rewrite(df => df.withColumn(cn, df.col(cn).cast(tpe)))
            else
              rewrite(df => df.withColumn(cn,
                org.apache.spark.sql.functions.expr(rewriteExpressions(using)).cast(tpe)))
          case setProps(props) =>
            val kv = SqlText.items(props).map { p =>
              val eq = p.indexOf('=')
              val k = p.substring(0, eq).trim
              val v = p.substring(eq + 1).trim
              s"'$k' = ${if (v.startsWith("'")) v else s"'$v'"}"
            }
            List(s"ALTER TABLE $table SET TBLPROPERTIES (${kv.mkString(", ")})")
          case colDefault(c, action) =>
            List(s"ALTER TABLE $table ALTER COLUMN $c ${action.trim}")
          case notNullNoop(_) => Nil
          case setAuth() => Nil
          case execute(cmd) =>
            if (cmd.equalsIgnoreCase("analyze"))
              List(s"ANALYZE TABLE $table COMPUTE STATISTICS")
            else Nil // optimize/vacuum: no compaction layer on plain parquet
          case other => List(s"ALTER TABLE $table $other") // pass through
        }
      case _ => List(bare)
    }
  }

  private val likeEntryRe =
    """(?is)\bLIKE\s+([\w.`"]+?)(\s+(?:INCLUDING|EXCLUDING)\s+PROPERTIES)?\s*([,)])""".r
  private val createLikeRe =
    """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?[\w.`"]+\s+LIKE\s+[\w.`"]+\s*""".r
  private val asWordRe = """(?i)\bAS\b""".r
  private val withPropsRe = """(?is)\bWITH\s*\(""".r
  private val createBareRe = """(?is)CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?\S+\s*""".r
  private val createColumnsRe = """(?is)\bCREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?[^\s(]+\s*\(""".r

  /** CREATE TABLE dialect normalization: strip `WITH (k = v, …)` property
    * blocks (table- and column-level — engine hints with no Spark meaning),
    * strip non-foldable DEFAULTs, map Postgres-ish column types, convert
    * `( LIKE t INCLUDING PROPERTIES )` to Spark `LIKE t`, and give
    * properties-only definitions a placeholder column (Spark requires a
    * schema). */
  private def normalizeCreateTable(spark: SparkSession, stmt0: String): String = {
    var stmt = stmt0
    // Trino `LIKE t [INCLUDING|EXCLUDING PROPERTIES]` column-list entries →
    // the source table's column DDL inlined (Spark's CREATE TABLE … LIKE
    // exists only as a standalone form; Trino mixes LIKE with columns and
    // allows several). Resolution happens here, at normalize time, against
    // the live catalog — exactly what Trino's analyzer does.
    var expanding = stmt.toUpperCase.contains("LIKE")
    // only inside a CREATE TABLE column list (the statement was dispatched
    // here on its CREATE TABLE prefix); skip the standalone Spark form
    if (createLikeRe.matches(new SqlText(stmt).withoutComments.trim))
      expanding = false
    // …and never inside a CTAS body: a LIKE there is a predicate, not a
    // Trino column entry (`CREATE TABLE t AS SELECT if(n LIKE p, 1, 0)…`
    // misread the pattern as a source table). Column-entry LIKEs can only
    // occur before the top-level AS.
    val ctasAsPos: Int = {
      val t = new SqlText(stmt)
      t.codeMatches(asWordRe).find(m => t.depth(m.start) == 0).fold(-1)(_.start)
    }
    while (expanding) {
      new SqlText(stmt).find(likeEntryRe) match {
        case Some(m) if ctasAsPos >= 0 && m.start > ctasAsPos =>
          expanding = false // LIKE inside the CTAS query body — a predicate
        case Some(m) =>
          val src = m.group(1).replace("`", "").replace("\"", "")
            .replaceAll("(?i)^catalog\\.", "") // placeholder catalog prefix
          val ddl =
            try spark.table(src).schema.toDDL
            catch {
              case e: Throwable =>
                throw new IllegalArgumentException(
                  s"CREATE TABLE LIKE: source table $src not found", e)
            }
          stmt = stmt.substring(0, m.start) + ddl + m.group(3) + stmt.substring(m.end)
        case None => expanding = false
      }
    }
    // WITH (…) at any depth — table properties or column properties
    var stripping = true
    while (stripping) {
      val t = new SqlText(stmt)
      t.find(withPropsRe) match {
        case Some(m) if t.matching(m.end - 1) >= 0 =>
          stmt = stmt.substring(0, m.start) + stmt.substring(t.matching(m.end - 1) + 1)
        case _ => stripping = false
      }
    }
    stmt = createTableRewrites.foldLeft(stmt)((s, rewrite) => rewrite(s))
    if (createBareRe.matches(new SqlText(stmt).withoutComments.trim))
      stmt = stmt + " (__placeholder INT)"
    // Trino allows an explicit schema on CTAS; Spark forbids it — the AS
    // SELECT defines the schema, drop the column list
    val t = new SqlText(stmt)
    t.find(createColumnsRe).foreach { m =>
      val open = m.end - 1
      val close = t.matching(open)
      if (close >= 0 && stmt.substring(close + 1).trim.toUpperCase.startsWith("AS"))
        stmt = stmt.substring(0, open) + stmt.substring(close + 1)
    }
    stmt
  }

  /** Non-foldable DEFAULTs out, Postgres-ish column types mapped, `( LIKE t
    * INCLUDING PROPERTIES )` to Spark `LIKE t`. */
  private val createTableRewrites: List[String => String] = List(
    spanning("default",
      """(?is)\bDEFAULT\s+(CURRENT_TIMESTAMP\b|'(?:[^']|'')*'|\d+(?:\.\d+)?)""", ""),
    inCode("text", """(?i)\btext\b""", "string"),
    inCode("serial", """(?i)\bserial\b""", "int"),
    inCode("jsonb", """(?i)\bjsonb\b""", "string"),
    inCode("like",
      """(?is)\(\s*LIKE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+INCLUDING\s+PROPERTIES\s*\)""",
      " LIKE $1"))

  /** The ordered expression-level rewrites. */
  private[graft] def rewriteExpressions(sql: String): String =
    expressionRewrites.foldLeft(sql)((s, rewrite) => rewrite(s))

  private val quotedCatalogRe = """"catalog"\.""".r
  private val underscoreLambdaRe = """\(?\s*_\s*\)?\s*->""".r
  private val valuesRowRe = """(?i)\bVALUES\s*\(""".r
  private val insertWithRe = """(?is)\bINSERT\s+INTO\s+(?:TABLE\s+)?[\w.`"]+\s*\(\s*WITH\b""".r
  private val underscoreRe = """(?<![A-Za-z0-9_])_(?![A-Za-z0-9_])""".r
  private val createRe = """(?is)CREATE\b.*""".r
  private val storedAsRe = """(?i)\bSTORED\s+AS\s+(\w+)""".r
  private val columnNRe = """(?i)\bcolumn(\d+)\b""".r

  private val expressionRewrites: List[String => String] = List(
    // backslashes in string literals are literal in DuckDB; Spark treats
    // them as escapes — double them (inside strings only)
    s => if (s.indexOf('\\') < 0) s else new SqlText(s).mapStringBodies(_.replace("\\", "\\\\")),
    // CAST(JSON '…' AS MAP(VARCHAR, VARCHAR)) → from_json(…, map type)
    spanning("json",
      """(?is)CAST\s*\(\s*JSON\s+('(?:[^']|'')*')\s+AS\s+MAP\s*\(\s*VARCHAR\s*,\s*VARCHAR\s*\)\s*\)""",
      "from_json($1, 'map<string,string>')"),
    // JSON '…' typed literal → plain string
    spanning("json", """(?is)\bJSON\s+('(?:[^']|'')*')""", "$1"),
    // DECIMAL '…' typed literal → bare numeric literal (Spark parses
    // fractional literals as decimal already)
    spanning("decimal", """(?is)\bDECIMAL\s+'([0-9eE.+-]+)'""", "$1"),
    // TIME '…' literal → plain string (lexicographic comparisons preserved;
    // Spark has no TIME type)
    spanning("time", """(?is)\bTIME\s+('(?:[^']|'')*')""", "$1"),
    // TIMESTAMP '… <zone>' → strip the zone suffix Spark cannot parse
    spanning("timestamp",
      """(?is)\bTIMESTAMP\s+'(\d{4}-\d{2}-\d{2}[ T][\d:.]+)\s+(?:UTC|[A-Za-z]+/[A-Za-z_]+)'""",
      "TIMESTAMP '$1'"),
    // timestamp(3) precision → timestamp, then with[out] time zone → timestamp
    inCode("timestamp", """(?i)\btimestamp\s*\(\s*\d+\s*\)""", "timestamp"),
    inCode("zone", """(?is)\btimestamp\s+with(?:out)?\s+time\s+zone\b""", "timestamp"),
    // parameterless varchar → string
    inCode("varchar", """(?i)\bvarchar\b(?!\s*\()""", "string"),
    // ARRAY[…] → array(…)  (balanced; nested brackets/parens handled)
    onlyWith("array")(convertArrayBrackets),
    // MAP(array(...), array(...)) → map_from_arrays
    inCode("map", """(?is)\bMAP\s*\(\s*array\s*\(""", "map_from_arrays(array("),
    // DuckDB/Trino spellings of Spark builtins
    inCode("array_concat", """(?i)\barray_concat\s*\(""", "concat("),
    inCode("list_transform", """(?i)\blist_transform\s*\(""", "transform("),
    inCode("starts_with", """(?i)\bstarts_with\s*\(""", "startswith("),
    inCode("approx_quantile", """(?i)\bapprox_quantile\s*\(""", "approx_percentile("),
    // time('…') function — Spark has no TIME builder
    inCode("time", """(?i)\btime\s*\(""", "to_timestamp("),
    // TABLESAMPLE BERNOULLI/SYSTEM (expr[%]), then the DuckDB USING SAMPLE
    // forms reservoir(10%) / 10% / 10 percent / 5 [rows]
    onlyWith("tablesample")(convertTablesample),
    inCode("sample",
      """(?is)\bUSING\s+SAMPLE\s+reservoir\s*\(\s*(\d+)\s*%?\s*\)""", "TABLESAMPLE ($1 PERCENT)"),
    inCode("sample", """(?is)\bUSING\s+SAMPLE\s+(\d+)\s*(?:%|percent)""", "TABLESAMPLE ($1 PERCENT)"),
    inCode("sample", """(?is)\bUSING\s+SAMPLE\s+(\d+)(?:\s+rows)?\b""", "TABLESAMPLE ($1 ROWS)"),
    // FETCH [FIRST|NEXT] n ROWS ONLY → LIMIT n
    inCode("fetch", """(?is)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY\b""", "LIMIT $1"),
    // DuckDB in-parens null treatment: f(x IGNORE NULLS, a, b) / f(x IGNORE
    // NULLS) → the Spark placement f(x, a, b) IGNORE NULLS. Spanning: the
    // trailing args may contain string literals
    spanning("nulls",
      """(?is)\(\s*([^(),']+?)\s+(IGNORE|RESPECT)\s+NULLS\s*,([^()]*)\)""",
      "($1,$3) $2 NULLS"),
    inCode("nulls", """(?is)\s+(IGNORE|RESPECT)\s+NULLS\s*\)""", ") $1 NULLS"),
    // SHOW CREATE VIEW → SHOW CREATE TABLE (Spark spelling)
    inCode("show", """(?is)\bSHOW\s+CREATE\s+VIEW\b""", "SHOW CREATE TABLE"),
    // the corpus' placeholder catalog prefix — Spark has no such catalog;
    // only a quoted identifier followed by a code `.` is the prefix
    onlyWith("\"catalog\"") { s =>
      val cat = new SqlText(s)
      quotedCatalogRe.replaceAllIn(s, m =>
        if (!cat.isCode(m.start) && cat.spanStart(m.start) == m.start && cat.isCode(m.end - 1)) ""
        else scala.util.matching.Regex.quoteReplacement(m.matched))
    },
    // <expr> AT TIME ZONE 'z' → from_utc_timestamp(<expr>, 'z') (balanced
    // operand extraction)
    onlyWith("zone")(convertAtTimeZone),
    // Trino 2-argument if(c, v) → if(c, v, NULL)
    onlyWith("if")(convertTwoArgIf),
    // DuckDB MAP {'k': v, …} struct-ish literal → map('k', v, …)
    onlyWith("map")(convertMapBraces),
    // array_agg(expr ORDER BY …) → struct-sort rewrite (Spark SQL has no
    // ordered-aggregate syntax; the flow front-end supports it natively)
    onlyWith("array_agg")(convertOrderedArrayAgg),
    // `_` as a lambda parameter (reference issue #1243) — Spark reserves
    // `_`-leading names in lambdas; rename the standalone token
    onlyWith("->") { s =>
      if (new SqlText(s).find(underscoreLambdaRe).isEmpty) s
      else new SqlText(s).replaceCode(underscoreRe, "__lv")
    },
    // Trino ROW(...)-type CAST algebra → Spark struct types, then ROW value
    // constructors → struct(...)
    onlyWith("row")(convertRowTypes),
    // JSON_OBJECT('k', v, …) / JSON_OBJECT(KEY 'k' VALUE v, … [modifiers])
    // → to_json(named_struct('k', v, …)) — Spark has no json type; the
    // serialized-string form is the engine-portable reading
    onlyWith("json_object")(convertJsonObject),
    // single-parameter parenthesized lambda `(x) -> …` → `x -> …` (Spark's
    // grammar only parenthesizes multi-parameter lambdas)
    inCode("->", """\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*->""", "$1 ->"),
    // DuckDB numeric truthiness in an identity lambda PREDICATE (`x -> x`
    // inside a filter-family call): truthy = non-null and non-zero; Spark
    // lambdas are typed boolean. Anchored to the ENCLOSING CALL NAME — a
    // bare identity-lambda rewrite also converted value-returning lambdas
    // (aggregate finishers, transform) to booleans
    onlyWith("->")(rewriteIdentityLambdaPredicates),
    // `VALUES (struct(…))` single-struct rows: Spark's inline-table rule
    // expands a lone struct row into its fields, breaking 1-column aliases —
    // rewrite to a SELECT chain that keeps the struct value intact
    onlyWith("values")(convertStructValuesRows),
    // DuckDB `//` integer division → Spark's div operator
    inCode("//", """//""", " div "),
    // Hive `STORED AS <fmt>` → Spark `USING <fmt>` (DDL only — `stored`
    // is a legal column alias in queries; leading comment lines skipped)
    onlyWith("stored") { s =>
      if (!createRe.matches(new SqlText(s).withoutComments.trim)) s
      else new SqlText(s).replaceCode(storedAsRe, "USING $1")
    },
    // Trino IPADDRESS literals / casts → plain strings (no inet type;
    // string order preserves the corpus' equality comparisons)
    spanning("ipaddress", """(?is)\bIPADDRESS\s+('(?:[^']|'')*')""", "$1"),
    spanning("ipaddress", """(?is)\bIPADDRESS\s+"([^"]*)"""", "'$1'"),
    inCode("ipaddress", """(?i)\bIPADDRESS\s*\(""", "string("),
    // the corpus' placeholder `catalog.` prefix (unquoted form)
    // (\z: a following quoted identifier ends the code run, so
    // `catalog."t"` shows up here as a run ending in `catalog.`)
    inCode("catalog.", """(?i)\bcatalog\.(?=[\w`"]|\z)""", ""),
    // Trino/DuckDB anonymous VALUES columns are column1, column2, …;
    // Spark's are col1, col2, … (rename only when VALUES is present)
    onlyWith("values") { s =>
      if (new SqlText(s).find(valuesRowRe).isEmpty) s
      else new SqlText(s).replaceCode(columnNRe, "col$1")
    },
    // Trino parenthesized INSERT source `INSERT INTO t (WITH … SELECT …)`
    // → bare query (Spark's grammar takes the query unparenthesized)
    onlyWith("insert") { s =>
      val insert = new SqlText(s)
      insert.find(insertWithRe).fold(s) { m =>
        val open = s.lastIndexOf('(', m.end - 1)
        val close = insert.matching(open)
        if (close >= 0 && s.substring(close + 1).trim.isEmpty)
          s.substring(0, open) + s.substring(open + 1, close) + s.substring(close + 1)
        else s
      }
    },
    // Hivemall-style `each_top_k(k, grp, score, a…) AS (cols)` UDTF →
    // window-rank rewrite (the one executable UDTF shape in the corpus)
    onlyWith("each_top_k")(convertEachTopK),
    // TD_* time functions take numeric-or-string time values; the UDFs are
    // registered over strings and ANSI mode won't implicitly cast — wrap
    // each top-level argument in CAST(… AS STRING)
    onlyWith("td_time_")(convertTdCalls),
    // Hive permits orderless ranking windows (`row_number() OVER (PARTITION
    // BY x)`); Spark requires an ORDER BY — a constant key keeps the
    // (already arbitrary) within-partition order legal
    onlyWith("over")(convertOrderlessRankingWindows)
  )

  private val rankingOverRe = """(?is)\b(?:row_number|rank|dense_rank)\s*\(\s*\)\s*OVER\s*\(""".r
  private val orderByRe = """(?i)\bORDER\s+BY\b""".r

  /** `row_number|rank|dense_rank() OVER (PARTITION BY … )` with no ORDER BY
    * → append ` ORDER BY 1` inside the window spec. */
  private def convertOrderlessRankingWindows(s0: String): String = {
    var s = s0
    var t = new SqlText(s)
    var from = 0
    var continue = true
    while (continue) {
      t.find(rankingOverRe, from).map(_.end - 1) match {
        case Some(open) if t.matching(open) >= 0 =>
          val close = t.matching(open)
          // top-level only: a nested ORDER BY doesn't count
          if (!t.codeMatches(orderByRe, open + 1, close).exists(m => t.depth(m.start) == t.depth(open) + 1)) {
            s = s.substring(0, close) + " ORDER BY 1" + s.substring(close)
            t = new SqlText(s)
          }
          from = close + 1
        case _ => continue = false
      }
    }
    s
  }

  private val tdCallRe = """(?i)\bTD_[A-Z_]+\s*\(""".r

  /** Wrap every top-level argument of a `TD_*(…)` call in CAST(… AS
    * STRING) so the string-typed UDFs accept numeric epochs under ANSI. */
  private def convertTdCalls(s0: String): String = {
    def wrapOne(s: String, from: Int): String = {
      val t = new SqlText(s)
      t.find(tdCallRe, from).map(_.end - 1) match {
        case Some(open) if t.matching(open) >= 0 =>
          // nested TD_ calls are wrapped by the continued forward scan
          val args = t.itemsIn(open).map(a => s"CAST($a AS STRING)")
          wrapOne(s.substring(0, open + 1) + args.mkString(", ") + s.substring(t.matching(open)), open + 1)
        case _ => s
      }
    }
    wrapOne(s0, 0)
  }

  private val eachTopKRe = """(?is)\bSELECT\s+each_top_k\s*\(""".r
  private val leadingAsRe = """(?is)^\s*AS\s*\(""".r

  /** `SELECT each_top_k(k, grp, score, a1, a2, …) AS (c1, c2, …) FROM rest`
    * → `SELECT * FROM (SELECT rank() OVER (PARTITION BY grp ORDER BY score
    * DESC) AS c1, score AS c2, a1 AS c3, … FROM rest) WHERE c1 <= k`.
    * Hivemall's each_top_k emits (rank, score, args…) per group — the
    * window form is the distributed-native equivalent (one shuffle on grp,
    * same as the CLUSTER BY the Hive original requires). */
  private def convertEachTopK(s0: String): String = {
    val t = new SqlText(s0)
    t.find(eachTopKRe) match {
      case None => s0
      case Some(sel) =>
        val openIdx = sel.end - 1
        val closeArgs = t.matching(openIdx)
        if (closeArgs < 0) return s0
        val args = t.itemsIn(openIdx)
        leadingAsRe.findFirstMatchIn(s0.substring(closeArgs + 1)) match {
          case None => s0
          case Some(m) =>
            val colsOpen = closeArgs + 1 + m.end - 1
            val colsClose = t.matching(colsOpen)
            if (colsClose < 0 || args.length < 3) return s0
            val cols = t.itemsIn(colsOpen)
            if (cols.length != args.length - 1) return s0
            // rest extends to the close of the bracket around the SELECT
            val around = t.enclosingOpen(sel.start)
            val end = if (around >= 0 && t.matching(around) >= 0) t.matching(around) else s0.length
            val rest = s0.substring(colsClose + 1, end)
            val (kLim, grp, score) = (args(0), args(1), args(2))
            val inner = (s"rank() OVER (PARTITION BY $grp ORDER BY $score DESC) AS ${cols(0)}" ::
              s"$score AS ${cols(1)}" ::
              args.drop(3).zip(cols.drop(2)).map { case (a, c) => s"$a AS $c" }).mkString(", ")
            val repl = s"SELECT * FROM (SELECT $inner $rest) WHERE ${cols(0)} <= $kLim"
            convertEachTopK(s0.substring(0, sel.start) + repl + s0.substring(end))
        }
    }
  }

  private val valuesOpenRe = """(?i)\(\s*VALUES\s*\(""".r
  private val valuesAliasRe =
    """(?is)^\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)""".r

  /** `(VALUES (struct(…))[, (struct(…))]*) AS t(x)` → `(SELECT struct(…) AS
    * x [UNION ALL SELECT …]) t`. Only engages when every row is a single
    * top-level struct(...) expression and the alias names exactly one
    * column (the Trino ROW-value inline-table idiom). */
  private def convertStructValuesRows(s0: String): String = {
    var s = s0
    var t = new SqlText(s)
    var from = 0
    var searching = true
    while (searching) {
      t.find(valuesOpenRe, from) match {
        case None => searching = false
        case Some(values) =>
          val start = values.start
          val firstOpen = values.end - 1
          // collect the parenthesized rows
          val rows = List.newBuilder[String]
          var open = firstOpen
          var ok = true
          var end = -1
          var continue = true
          while (continue) {
            val close = t.matching(open)
            if (close < 0) { ok = false; continue = false }
            else {
              rows += s.substring(open + 1, close)
              // next non-space: ',' → another row; ')' → end of VALUES
              var j = close + 1
              while (j < s.length && Character.isWhitespace(s.charAt(j))) j += 1
              if (j < s.length && s.charAt(j) == ',') {
                var k = j + 1
                while (k < s.length && Character.isWhitespace(s.charAt(k))) k += 1
                if (k < s.length && s.charAt(k) == '(') { open = k }
                else { ok = false; continue = false }
              } else if (j < s.length && s.charAt(j) == ')') {
                end = j; continue = false
              } else { ok = false; continue = false }
            }
          }
          val after = if (end >= 0) s.substring(end + 1) else ""
          val rowList = rows.result()
          val allStruct = rowList.nonEmpty && rowList.forall { r =>
            r.trim.toLowerCase.startsWith("struct(") && SqlText.items(r).lengthCompare(1) == 0
          }
          valuesAliasRe.findFirstMatchIn(after) match {
            case Some(m) if ok && allStruct =>
              val (tbl, col) = (m.group(1), m.group(2))
              val sel = rowList.map(r => s"SELECT ${r.trim} AS $col").mkString(" UNION ALL ")
              s = s.substring(0, start) + s"($sel) $tbl" + after.substring(m.end)
              t = new SqlText(s)
            case _ =>
              // leave untouched and search on after this VALUES keyword
              from = firstOpen + 1
          }
      }
    }
    s
  }

  /** Normalize a raw `sql"…"` fragment that Spark's parser rejected: the
    * full expression rewrite plus DuckDB-only literal forms that are too
    * ambiguous to apply to whole scripts — bare `[1, 2, 3]` array literals
    * (distinguished from subscripts `a[1]` by the preceding token). */
  private[graft] def normalizeRawFragment(sql0: String): String =
    convertBareArrayBrackets(rewriteExpressions(sql0))

  private val arrayAggRe = """(?i)\barray_agg\s*\(""".r
  private val leadingDistinctRe = """(?i)^DISTINCT\b""".r
  private val trailingNullsRe = """(?i)\s+NULLS\s+(FIRST|LAST)\s*$""".r
  private val trailingDirectionRe = """(?i)\s+(ASC|DESC)\s*$""".r

  /** `array_agg([DISTINCT] expr ORDER BY k1 [ASC|DESC] [NULLS F|L], …)` →
    * `transform(array_sort(array_agg([DISTINCT] struct(expr AS __v, k1 AS
    * __k1, …)), (l, r) -> CASE…), s -> s.__v)`. The struct agg keeps rows
    * whose ORDER keys are null (the comparator places them per the NULLS
    * clause; default asc→last, desc→first, the Trino/DuckDB default). */
  private def convertOrderedArrayAgg(s0: String): String = {
    var s = s0
    var t = new SqlText(s)
    var searchFrom = 0
    var continue = true
    while (continue) {
      t.find(arrayAggRe, searchFrom) match {
        case Some(agg) if t.matching(agg.end - 1) >= 0 =>
          val start = agg.start
          val openIdx = agg.end - 1
          val close = t.matching(openIdx)
          val level = t.depth(openIdx) + 1
          // top-level ORDER BY split
          t.codeMatches(orderByRe, openIdx + 1, close).find(m => t.depth(m.start) == level) match {
            case None => searchFrom = close + 1
            case Some(m) =>
              var exprPart = s.substring(openIdx + 1, m.start).trim
              val distinct = leadingDistinctRe.findFirstIn(exprPart).isDefined
              if (distinct) exprPart = exprPart.substring("DISTINCT".length).trim
              val keys = t.items(m.end, close, level).map { k0 =>
                var k = k0.trim
                var desc = false
                var nullsFirst: Option[Boolean] = None
                trailingNullsRe.findFirstMatchIn(k).foreach { mm =>
                  nullsFirst = Some(mm.group(1).equalsIgnoreCase("FIRST"))
                  k = k.substring(0, mm.start).trim
                }
                trailingDirectionRe.findFirstMatchIn(k).foreach { mm =>
                  desc = mm.group(1).equalsIgnoreCase("DESC")
                  k = k.substring(0, mm.start).trim
                }
                (k, desc, nullsFirst.getOrElse(desc)) // default: asc→nulls last, desc→nulls first
              }
              val fields = (s"($exprPart) AS __v" ::
                keys.zipWithIndex.map { case ((k, _, _), i) => s"($k) AS __k$i" }).mkString(", ")
              val cmp = keys.zipWithIndex.flatMap { case ((_, desc, nFirst), i) =>
                val (lt, gt) = if (desc) ("1", "-1") else ("-1", "1")
                val (nl, nr) = if (nFirst) ("-1", "1") else ("1", "-1")
                List(
                  s"WHEN l.__k$i IS NULL AND r.__k$i IS NOT NULL THEN $nl",
                  s"WHEN r.__k$i IS NULL AND l.__k$i IS NOT NULL THEN $nr",
                  s"WHEN l.__k$i < r.__k$i THEN $lt",
                  s"WHEN l.__k$i > r.__k$i THEN $gt")
              }.mkString(" ")
              val distinctKw = if (distinct) "DISTINCT " else ""
              val repl =
                s"transform(array_sort(array_agg(${distinctKw}struct($fields)), " +
                  s"(l, r) -> CASE $cmp ELSE 0 END), s -> s.__v)"
              s = s.substring(0, start) + repl + s.substring(close + 1)
              t = new SqlText(s)
              searchFrom = start + repl.length
          }
        case _ => continue = false
      }
    }
    s
  }

  private val rowCallRe = """(?i)\bROW\s*\(""".r
  private val castCallRe = """(?i)\bCAST\s*\(""".r
  private val spacedAsRe = """(?i)\sAS\s""".r

  /** Trino/DuckDB ROW-type algebra: the AS-operand of a CAST translated to
    * Spark type syntax — `ROW(id bigint, name varchar)` → `struct<id:
    * bigint, name: string>`, `array(T)`/`map(K,V)` → `array<T>`/`map<K,V>`
    * — then remaining `ROW(…)` VALUE constructors → `struct(…)`. Spark
    * casts struct→struct positionally, which is exactly Trino's ROW cast. */
  private def convertRowTypes(s0: String): String = {
    var s = s0
    // only engage when a ROW( appears (keeps the common path untouched)
    if (rowCallRe.findFirstIn(s).isEmpty) return s
    // 1. translate CAST type operands
    var t = new SqlText(s)
    var from = 0
    var continue = true
    while (continue) {
      t.find(castCallRe, from) match {
        case Some(cast) if t.matching(cast.end - 1) >= 0 =>
          val open = cast.end - 1
          val close = t.matching(open)
          // last top-level ` AS ` splits value from type
          t.codeMatches(spacedAsRe, open + 1, close).filter(m => t.depth(m.start) == t.depth(open) + 1)
            .toList.lastOption match {
            case None => from = close + 1
            case Some(m) =>
              val valuePart = s.substring(open + 1, m.start)
              val newType = translateTypeExpr(s.substring(m.end, close).trim)
              val rebuilt = s"CAST($valuePart AS $newType)"
              s = s.substring(0, cast.start) + rebuilt + s.substring(close + 1)
              t = new SqlText(s)
              from = cast.start + rebuilt.length
          }
        case _ => continue = false
      }
    }
    // 2. remaining ROW( are value constructors
    new SqlText(s).replaceCode(rowCallRe, "struct(")
  }

  /** Recursive type-expression translation (Trino/DuckDB → Spark DDL). */
  private def translateTypeExpr(t0: String): String = {
    val t = t0.trim
    val paren = t.indexOf('(')
    if (paren < 0) {
      t.toLowerCase match {
        case "varchar" | "text" => "string"
        case "integer" => "int"
        case other => other
      }
    } else {
      val head = t.substring(0, paren).trim.toLowerCase
      val sql = new SqlText(t)
      val close = sql.matching(paren)
      if (close < 0) return t
      head match {
        case "row" =>
          val fields = sql.itemsIn(paren).map { f =>
            val sp = f.indexOf(' ')
            if (sp < 0) f
            else {
              val fname = f.substring(0, sp).trim
              val ftype = translateTypeExpr(f.substring(sp + 1))
              s"$fname: $ftype"
            }
          }
          s"struct<${fields.mkString(", ")}>"
        case "array" => s"array<${translateTypeExpr(t.substring(paren + 1, close))}>"
        case "map" =>
          val parts = sql.itemsIn(paren).map(translateTypeExpr)
          s"map<${parts.mkString(", ")}>"
        case "decimal" | "numeric" | "char" => t // parameterized scalars pass through
        case _ => t
      }
    }
  }

  private val jsonObjectRe = """(?i)\bJSON_OBJECT\s*\(""".r
  private val jsonOnNullRe =
    """(?is)\s+(NULL|ABSENT)\s+ON\s+NULL(\s+WITH(OUT)?\s+UNIQUE\s+KEYS)?\s*$""".r
  private val jsonUniqueKeysRe = """(?is)\s+WITH(OUT)?\s+UNIQUE\s+KEYS\s*$""".r
  private val jsonKeyValueRe = """(?is)^KEY\s+(.+?)\s+VALUE\s+(.+)$""".r

  /** `JSON_OBJECT('k', v, …)` and the standard-SQL `JSON_OBJECT(KEY 'k'
    * VALUE v, … [NULL|ABSENT ON NULL] [WITH|WITHOUT UNIQUE KEYS])` →
    * `to_json(named_struct('k', v, …))`; modifiers are serialization hints
    * dropped with the json type itself. */
  private def convertJsonObject(s0: String): String = {
    var s = s0
    var continue = true
    while (continue) {
      val t = new SqlText(s)
      t.find(jsonObjectRe) match {
        case Some(m) if t.matching(m.end - 1) >= 0 =>
          val close = t.matching(m.end - 1)
          var inner = s.substring(m.end, close)
          // strip trailing modifiers (they follow the final pair)
          inner = jsonOnNullRe.replaceAllIn(inner, "")
          inner = jsonUniqueKeysRe.replaceAllIn(inner, "")
          val items = SqlText.items(inner)
          val pairs: List[String] =
            if (items.forall(jsonKeyValueRe.matches(_)))
              items.flatMap { it =>
                val kv = jsonKeyValueRe.findFirstMatchIn(it).get
                List(kv.group(1).trim, kv.group(2).trim)
              }
            else items // DuckDB alternating style is already k, v, k, v
          val repl = s"to_json(named_struct(${pairs.mkString(", ")}))"
          s = s.substring(0, m.start) + repl + s.substring(close + 1)
        case _ => continue = false
      }
    }
    s
  }

  private val mapBraceRe = """(?i)\bMAP\s*\{""".r

  /** DuckDB `MAP {'k1': v1, 'k2': v2}` → `map('k1', v1, 'k2', v2)`. */
  private def convertMapBraces(s0: String): String = {
    var s = s0
    var continue = true
    while (continue) {
      val t = new SqlText(s)
      t.find(mapBraceRe) match {
        case Some(m) if t.matching(m.end - 1) >= 0 =>
          val close = t.matching(m.end - 1)
          val pairs = t.itemsIn(m.end - 1).flatMap { kv =>
            // split on the FIRST top-level colon (values may nest maps)
            val cut = new SqlText(kv).topLevelIndexOf(':')
            if (cut < 0) List(kv)
            else List(kv.substring(0, cut).trim, kv.substring(cut + 1).trim)
          }
          s = s.substring(0, m.start) + "map(" + pairs.mkString(", ") + ")" +
            s.substring(close + 1)
        case _ => continue = false
      }
    }
    s
  }

  /** DuckDB bare array literals `[e1, e2]` → `array(e1, e2)`, leaving
    * subscripts `a[1]` / `f(x)[2]` alone: a `[` is a literal only when the
    * preceding non-space character cannot END an operand (start of input,
    * `(`, `[`, `{`, `,` or an operator/colon). */
  private def convertBareArrayBrackets(s0: String): String = {
    val t = new SqlText(s0)
    def isLiteralStart(idx: Int): Boolean = {
      var j = idx - 1
      while (j >= 0 && Character.isWhitespace(s0.charAt(j))) j -= 1
      if (j < 0) true
      else "([{,=<>+-*/%:&|!".indexOf(s0.charAt(j)) >= 0 ||
        // a preceding KEYWORD (select, where, then, and, …) also opens an
        // operand position; identifiers/`)`/`]`/quotes close one (subscript)
        {
          var k = j
          while (k >= 0 && (Character.isLetterOrDigit(s0.charAt(k)) || s0.charAt(k) == '_')) k -= 1
          val word = s0.substring(k + 1, j + 1).toLowerCase
          Set("select", "where", "when", "then", "else", "and", "or", "not",
            "in", "values", "on", "having", "by", "as", "return", "union",
            "all", "distinct", "case").contains(word)
        }
    }
    s0.indices.find(i => s0.charAt(i) == '[' && t.isCode(i) && isLiteralStart(i)) match {
      case Some(i) if t.matching(i) >= 0 =>
        val close = t.matching(i)
        convertBareArrayBrackets(
          s0.substring(0, i) + "array(" +
            convertBareArrayBrackets(s0.substring(i + 1, close)) + ")" +
            s0.substring(close + 1))
      case _ => s0
    }
  }

  // --- helpers ---------------------------------------------------------------

  private val paramRe = """\?|\$[\p{L}\p{Nd}_][\p{L}\p{Nd}_]*""".r

  /** Bind `?` (sequential), `$1` (positional), `$name` (by position)
    * params in code; a `?` in a string, identifier or comment stays. */
  private def bindParams(q: String, args: List[String]): String = {
    var next = 0
    def sequential(): Int = { next += 1; next - 1 }
    new SqlText(q).mapCode(run => paramRe.replaceAllIn(run, m => {
      val idx =
        if (m.matched == "?") sequential()
        else m.matched.tail.toIntOption.map(_ - 1).getOrElse(sequential())
      scala.util.matching.Regex.quoteReplacement(args.lift(idx).getOrElse("NULL"))
    }))
  }

  /** `f`, skipped for a text that does not contain `keyword` (lower case),
    * ignoring ASCII case as the `(?i)` patterns do: every change `f` makes
    * needs the keyword, so the skip changes no output. */
  private def onlyWith(keyword: String)(f: String => String): String => String =
    s => if (mentions(s, keyword)) f(s) else s

  /** Regex replace applied to code only. The pattern is compiled once, and
    * a text without `keyword`, a literal every match contains, is skipped:
    * most patterns lead with `\b`, which keeps the matcher from skipping
    * ahead, so running one tests every character of the text. */
  private def inCode(keyword: String, pattern: String, replacement: String): String => String = {
    val re = pattern.r
    onlyWith(keyword)(s => new SqlText(s).replaceCode(re, replacement))
  }

  /** As [[inCode]], but over the WHOLE text (matches may span string
    * literals, e.g. typed literals `DECIMAL '0.95'`), applied only when the
    * match STARTS at code. */
  private def spanning(keyword: String, pattern: String, replacement: String): String => String = {
    val re = pattern.r
    onlyWith(keyword) { s0 =>
      var s = s0
      var next = new SqlText(s).find(re)
      while (next.isDefined) {
        val m = next.get
        s = s.substring(0, m.start) + re.pattern.matcher(m.group).replaceAll(replacement) +
          s.substring(m.end)
        next = new SqlText(s).find(re)
      }
      s
    }
  }

  /** Whether `s` contains the lower-case `keyword`, ignoring ASCII case. */
  private def mentions(s: String, keyword: String): Boolean = {
    val k = keyword.length
    var i = 0
    var j = 0
    while (j < k && i + k <= s.length) {
      val c = s.charAt(i + j)
      if ((if (c >= 'A' && c <= 'Z') (c + 32).toChar else c) == keyword.charAt(j)) j += 1
      else { i += 1; j = 0 }
    }
    j == k
  }

  private val tablesampleRe = """(?is)\bTABLESAMPLE\s+(?:BERNOULLI|SYSTEM)\s*\(""".r
  private val arithRe = """[0-9.\s()+\-*/]+""".r

  /** TABLESAMPLE BERNOULLI/SYSTEM (expr[%]) → Spark `TABLESAMPLE (n
    * PERCENT)`. Integer arithmetic inside the parens is folded (Spark only
    * accepts literal percentages). */
  private def convertTablesample(s0: String): String = {
    var s = s0
    def fold(inner0: String): Option[String] = {
      val inner = inner0.trim.stripSuffix("%").trim
      if (arithRe.matches(inner)) Some(evalArith(inner).map(v =>
        if (v == v.floor) v.toLong.toString else v.toString).getOrElse(inner))
      else None
    }
    var continue = true
    while (continue) {
      val t = new SqlText(s)
      t.find(tablesampleRe) match {
        case Some(m) if t.matching(m.end - 1) >= 0 =>
          val close = t.matching(m.end - 1)
          val folded = fold(s.substring(m.end, close)).getOrElse("10")
          s = s.substring(0, m.start) + s"TABLESAMPLE ($folded PERCENT)" + s.substring(close + 1)
        case _ => continue = false
      }
    }
    s
  }

  /** Fold a small integer/decimal arithmetic expression (for TABLESAMPLE). */
  private def evalArith(e: String): Option[Double] = {
    // recursive-descent over + - * / and parens
    val s = e.replaceAll("\\s+", "")
    var pos = 0
    def peek: Char = if (pos < s.length) s.charAt(pos) else '\u0000'
    def expr(): Double = {
      var v = term()
      while (peek == '+' || peek == '-') {
        val op = s.charAt(pos); pos += 1
        val r = term()
        v = if (op == '+') v + r else v - r
      }
      v
    }
    def term(): Double = {
      var v = factor()
      while (peek == '*' || peek == '/') {
        val op = s.charAt(pos); pos += 1
        val r = factor()
        v = if (op == '*') v * r else v / r
      }
      v
    }
    def factor(): Double =
      if (peek == '(') { pos += 1; val v = expr(); pos += 1; v }
      else {
        val start = pos
        while (pos < s.length && (s.charAt(pos).isDigit || s.charAt(pos) == '.')) pos += 1
        s.substring(start, pos).toDouble
      }
    try { val v = expr(); if (pos == s.length) Some(v) else None }
    catch { case _: Throwable => None }
  }

  private val arrayBracketRe = """(?i)\bARRAY\s*\[""".r

  /** ARRAY[a, b] → array(a, b), nesting-aware, strings skipped. */
  private def convertArrayBrackets(s0: String): String = {
    var s = s0
    var continue = true
    while (continue) {
      val t = new SqlText(s)
      t.find(arrayBracketRe) match {
        case Some(m) if t.matching(m.end - 1) >= 0 =>
          val close = t.matching(m.end - 1)
          s = s.substring(0, m.start) + "array(" + s.substring(m.end, close) + ")" + s.substring(close + 1)
        case _ => continue = false
      }
    }
    s
  }

  private val identityLambdaRe = """\b([A-Za-z_][A-Za-z0-9_]*)\s*->\s*\1\s*([,)])""".r
  private val identityLambdaHosts =
    Set("filter", "list_filter", "array_filter", "any_match", "all_match", "none_match")

  /** `x -> x` inside a filter-family call → `x -> coalesce(x, 0) <> 0`
    * (DuckDB numeric truthiness). The enclosing call is found by scanning
    * back to the unmatched '(' and reading the identifier before it, so a
    * first argument full of commas/parens (`filter(array(1,2,NULL), x->x)`)
    * anchors correctly and value-returning identity lambdas elsewhere
    * (transform, aggregate finishers) stay untouched. */
  private def rewriteIdentityLambdaPredicates(s0: String): String = {
    var s = s0
    var t = new SqlText(s)
    var search = 0
    var continue = true
    while (continue) {
      t.codeMatches(identityLambdaRe).find(_.start >= search) match {
        case None => continue = false
        case Some(m) =>
          val open = t.enclosingOpen(m.start)
          val fnName =
            if (open > 0) {
              var e = open - 1
              while (e >= 0 && s.charAt(e).isWhitespace) e -= 1
              var b = e
              while (b >= 0 && (s.charAt(b).isLetterOrDigit || s.charAt(b) == '_')) b -= 1
              s.substring(b + 1, e + 1).toLowerCase
            } else ""
          if (identityLambdaHosts(fnName)) {
            val v = m.group(1)
            val tail = m.group(2)
            val repl = s"$v -> coalesce($v, 0) <> 0$tail"
            s = s.substring(0, m.start) + repl + s.substring(m.end)
            t = new SqlText(s)
            search = m.start + repl.length
          } else search = m.end
      }
    }
    s
  }

  private val atTimeZoneRe = """(?is)\bAT\s+TIME\s+ZONE\s+('[^']*')""".r

  /** `<operand> AT TIME ZONE 'z'` → `from_utc_timestamp(<operand>, 'z')`.
    * The operand is the longest preceding primary chain: literal, quoted
    * string, identifier/function-call/paren group, `::type` casts. */
  private def convertAtTimeZone(s0: String): String = {
    var s = s0
    var continue = true
    while (continue) {
      val t = new SqlText(s)
      t.find(atTimeZoneRe) match {
        case None => continue = false
        case Some(m) =>
          val tz = m.group(1)
          // walk left from the keyword over one primary chain:
          //   ident | 'literal' | TIMESTAMP 'literal' | f(…) | (…) | x::type
          var end = m.start
          while (end > 0 && s.charAt(end - 1).isWhitespace) end -= 1
          // one primary unit ending at `pos` (exclusive); returns its start
          def primaryStart(pos: Int): Int = {
            if (pos <= 0) return pos
            val c = s.charAt(pos - 1)
            if (c == ')') {
              val k = t.matching(pos - 1)
              if (k < 0) pos
              else {
                // include a directly-preceding function name
                var j = k
                while (j > 0 && (s.charAt(j - 1).isLetterOrDigit || s.charAt(j - 1) == '_')) j -= 1
                j
              }
            } else if (c == '\'') {
              val k = t.spanStart(pos - 1)
              // include a typed-literal keyword (TIMESTAMP '…' / DATE '…')
              var j = k
              while (j > 0 && s.charAt(j - 1).isWhitespace) j -= 1
              var i2 = j
              while (i2 > 0 && (s.charAt(i2 - 1).isLetterOrDigit || s.charAt(i2 - 1) == '_')) i2 -= 1
              val word = s.substring(i2, j).toLowerCase
              if (word == "timestamp" || word == "date") i2 else k
            } else if (c.isLetterOrDigit || c == '_') {
              var k = pos - 1
              while (k >= 0 && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_' || s.charAt(k) == '.')) k -= 1
              k + 1
            } else pos
          }
          var begin = primaryStart(end)
          // extend left over `::`-cast chains: <primary>::type
          var extending = true
          while (extending && begin > 1 &&
              s.charAt(begin - 1) == ':' && s.charAt(begin - 2) == ':') {
            val b2 = primaryStart(begin - 2)
            if (b2 < begin - 2) begin = b2 else extending = false
          }
          val operand = s.substring(begin, end)
          s = s.substring(0, begin) + s"from_utc_timestamp($operand, $tz)" +
            s.substring(m.end)
      }
    }
    s
  }

  private val ifCallRe = """(?i)\bIF\s*\(""".r

  /** Trino `if(cond, value)` → `if(cond, value, NULL)`. */
  private def convertTwoArgIf(s0: String): String = {
    var s = s0
    var t = new SqlText(s)
    var searchFrom = 0
    var continue = true
    while (continue) {
      t.codeMatches(ifCallRe).find(_.start >= searchFrom) match {
        case Some(m) if t.matching(m.end - 1) >= 0 =>
          val close = t.matching(m.end - 1)
          if (t.itemsIn(m.end - 1).lengthCompare(2) == 0) {
            s = s.substring(0, close) + ", NULL" + s.substring(close)
            t = new SqlText(s)
          }
          searchFrom = m.end
        case _ => continue = false
      }
    }
    s
  }
}
