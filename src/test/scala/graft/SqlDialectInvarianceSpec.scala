package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dialect shim must be IDENTITY on portable SQL: every rewrite rule
  * exists for a DuckDB/Trino-only construct, so statements already in
  * Spark's dialect have to pass through byte-identical. A shim that
  * "helpfully" touches plain SQL is a correctness hazard on user queries
  * far beyond the corpus. Seeded random generation — failures reproduce.
  */
class SqlDialectInvarianceSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(42)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))

  private val idents = Vector("t", "users", "order_items", "x1", "col_a", "b2")
  private val cols = Vector("id", "name", "total", "ts", "flag", "v")
  private val funcs = Vector("lower", "upper", "abs", "length", "trim")
  private val aggs = Vector("count", "sum", "min", "max", "avg")

  private def literal(): String = rng.nextInt(4) match {
    case 0 => rng.nextInt(1000).toString
    case 1 => s"'${pick(Vector("alpha", "beta", "g2", "x y z", "O''Neil"))}'"
    case 2 => (rng.nextDouble() * 100).round + ".5"
    case _ => pick(Vector("TRUE", "FALSE", "NULL"))
  }

  private def scalarExpr(depth: Int = 0): String = rng.nextInt(6) match {
    case 0 | 1 => pick(cols)
    case 2 => literal()
    case 3 => s"${pick(funcs)}(${pick(cols)})"
    case 4 if depth < 2 => s"${scalarExpr(depth + 1)} + ${scalarExpr(depth + 1)}"
    case _ => s"CASE WHEN ${pick(cols)} > ${rng.nextInt(100)} THEN ${literal()} ELSE ${literal()} END"
  }

  private def statement(): String = {
    val exprs = (1 to 1 + rng.nextInt(3)).map(_ => scalarExpr()).mkString(", ")
    val base = s"SELECT $exprs FROM ${pick(idents)}"
    val where =
      if (rng.nextBoolean()) s" WHERE ${pick(cols)} = ${literal()} AND ${pick(cols)} IS NOT NULL"
      else ""
    val group =
      if (rng.nextInt(3) == 0) s" GROUP BY ${pick(cols)} HAVING ${pick(aggs)}(${pick(cols)}) > 1"
      else ""
    val order = if (rng.nextBoolean()) s" ORDER BY ${pick(cols)} DESC" else ""
    val limit = if (rng.nextInt(3) == 0) s" LIMIT ${1 + rng.nextInt(50)}" else ""
    base + where + group + order + limit
  }

  test("portable statements pass through the shim byte-identical (500 seeded samples)") {
    (1 to 500).foreach { i =>
      val s = statement()
      val out = SqlDialect.rewriteExpressions(s)
      assert(out == s, s"sample $i rewritten:\n  in : $s\n  out: $out")
    }
  }

  test("subscripts and struct access survive the raw-fragment normalizer") {
    val cases = Seq(
      "SELECT arr[1] FROM t",
      "SELECT f(x)[2], m['k'] FROM t",
      "SELECT nested.field, s.a.b FROM t",
      "SELECT arr[i + 1] * 2 FROM t WHERE arr[0] > 5"
    )
    cases.foreach { s =>
      assert(SqlDialect.normalizeRawFragment(s) == s, s"mangled: $s")
    }
  }

  test("dialect-looking text inside string literals is never touched") {
    val cases = Seq(
      "SELECT 'use MAP {a: 1} here' FROM t",
      "SELECT 'ARRAY[1, 2] literal' FROM t",
      "SELECT 'ROW(1) AS x' FROM t",
      "SELECT 'a -> b' FROM t",
      "SELECT 'JSON_OBJECT(k, v)' FROM t"
    )
    cases.foreach { s =>
      assert(SqlDialect.rewriteExpressions(s) == s, s"string literal touched: $s")
    }
  }

  test("dialect-looking text inside double-quoted identifiers is never touched") {
    // double quotes are IDENTIFIERS in this front-end
    // (spark.sql.ansi.doubleQuotedIdentifiers=true) — a rewrite firing
    // inside one corrupts the column reference
    val cases = Seq(
      """SELECT "a//b" FROM t""",
      """SELECT "text" FROM t""",           // `text` type rewrite must not fire
      """SELECT "x -> y", v FROM t""",
      """SELECT "weird -- name" FROM t""",  // not a comment
      """SELECT "O""Neil col" FROM t""",    // "" escape stays intact
      """SELECT "ARRAY[1]" FROM t"""
    )
    cases.foreach { s =>
      assert(SqlDialect.rewriteExpressions(s) == s, s"identifier touched: $s")
    }
  }

  test("block comments and backticks mask rewrites; apostrophes inside them are inert") {
    val cases = Seq(
      // the // rewrite must still fire AFTER a block comment containing '
      ("SELECT /* it's a half */ 7 // 2 AS h", " div "),
      // and must NOT fire inside backtick identifiers
      ("SELECT 1 AS `a//b`", "`a//b`")
    )
    cases.foreach { case (s, expectFragment) =>
      val out = SqlDialect.rewriteExpressions(s)
      assert(out.contains(expectFragment), s"'$s' -> '$out'")
    }
    // the comment itself passes through untouched
    val c = SqlDialect.rewriteExpressions("SELECT /* keep // this */ 1")
    assert(c.contains("/* keep // this */"), c)
  }

  test("identity-lambda truthiness anchors to filter-family calls only") {
    // a value-returning identity finisher stays numeric
    val agg = "SELECT aggregate(array(1, 2, 3), 0, (acc, x) -> acc + x, acc -> acc) AS s"
    val aggOut = SqlDialect.rewriteExpressions(agg)
    assert(!aggOut.contains("coalesce(acc, 0) <> 0"), aggOut)
    // ...while a filter identity lambda becomes a truthiness predicate,
    // even with a comma-bearing first argument
    val f = "SELECT filter(array(1, 2, 3, NULL), x -> x) AS r"
    val fOut = SqlDialect.rewriteExpressions(f)
    assert(fOut.contains("coalesce(x, 0) <> 0"), fOut)
  }

  test("splitTopLevel-backed rewrites keep subscripts intact") {
    // ordered array_agg key with a subscript must not become a call k(1)
    val s = "SELECT array_agg(v ORDER BY k[1]) FROM t GROUP BY g"
    val out = SqlDialect.rewriteExpressions(s)
    assert(out.contains("k[1]") && !out.contains("k(1)"), out)
  }

  test("aggregates without ORDER BY are untouched") {
    val cases = Seq(
      "SELECT array_agg(x) FROM t",
      "SELECT array_agg(DISTINCT x) FROM t GROUP BY y",
      "SELECT count(*), sum(v) FROM t"
    )
    cases.foreach { s =>
      assert(SqlDialect.rewriteExpressions(s) == s, s"rewritten: $s")
    }
  }

  test("the \"catalog\" placeholder prefix is removed from code only") {
    assert(SqlDialect.rewriteExpressions("""SELECT * FROM "catalog".s.t""") == "SELECT * FROM s.t")
    val hidden = """SELECT '"catalog".x' AS s -- "catalog".y"""
    assert(SqlDialect.rewriteExpressions(hidden) == hidden)
  }
}
