package graft.catalog

import graft.SparkTestBase

/** Catalog-level invariants every oracle row must satisfy BEFORE the
  * driver sees it (VERDICT r17 Next #2). The driver's comparator
  * hash-sorts every output column, so a row emitting an array/struct/map
  * column crashes it — r17's q_bpe_encode shipped a raw `array<string>`
  * and the round's only red row was the comparator's pandas lexsort
  * dying, not a wrong answer. This spec compiles every wv row compile-only
  * (a staged row after its artifacts are written, as the tables are warmed
  * first), asserts that no compile starts a Spark job, and rejects
  * non-scalar output columns; the SQL and closure rows are gated by the
  * same column check inside Verify itself, which fails the row loudly
  * before the driver's compare. It also pins the row kinds: every row is
  * wv or SQL text unless it is a listed closure with its reason. */
class CatalogInvariantSpec extends SparkTestBase {

  test("every row is wv or SQL text, or a listed closure with its reason") {
    val rows = QueryCatalog.relationalQueries ++ QueryCatalog.pipelineQueries
    val closures = rows.collect {
      case (n, q, _) if !q.isInstanceOf[QueryCatalog.WvQuery] &&
        !q.isInstanceOf[QueryCatalog.SqlQuery] => n
    }
    val listed = QueryCatalog.closureRows
    assert(listed.map(_._1).distinct.size == listed.size, "a closure row is listed twice")
    assert(listed.forall(_._2.trim.nonEmpty), "a closure row is listed without a reason")
    assert(closures.sorted == listed.map(_._1).sorted,
      s"unlisted closures: ${closures.diff(listed.map(_._1))}; " +
        s"listed rows that are text: ${listed.map(_._1).diff(closures)}")
    assert(listed.size == 18, s"closure rows: ${listed.size}")
  }

  test("every wv oracle row compiles to scalar-only output columns") {
    val rows = QueryCatalog.wvQueries
    assert(rows.size > 100, s"wv rows look missing: ${rows.size}")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val withJobs = scala.collection.mutable.ArrayBuffer.empty[String]
    var checked = 0
    graft.Tables.names.foreach(graft.Tables.read(spark, sfDir, _).schema)
    rows.toSeq.sortBy(_._1).foreach { case (name, w) =>
      val paths = w.stage(spark, sfDir)
      paths.values.foreach(graft.Tables.readPath(spark, _).schema)
      val ctx = graft.lang.Lowering.Context(spark, w.resolver(spark, sfDir, paths), sfDir)
      val (df, cost) = graft.SparkCost.of(spark) {
        try Some(graft.CompileApi.compileOnlyWith(ctx, w.bind(paths)))
        catch {
          // write-effecting rows (save/dml) refuse compile-only by design;
          // their execution schemas are covered by Verify's check
          case e: graft.lang.LoweringException
              if String.valueOf(e.getMessage).contains("compile-only") => None
        }
      }
      if (cost.jobs != 0) withJobs += s"$name -> ${cost.jobs} job(s)"
      df.foreach { d =>
        checked += 1
        val bad = QueryCatalog.nonScalarColumns(d.schema)
        if (bad.nonEmpty) offenders += s"$name -> ${bad.mkString(", ")}"
      }
    }
    assert(checked > 150, s"too few rows actually compiled: $checked")
    assert(withJobs.isEmpty,
      "compile-only started Spark jobs:\n  " + withJobs.mkString("\n  "))
    assert(offenders.isEmpty,
      "rows with non-scalar output columns (the driver comparator crashes " +
        "on these — serialize via array_join, the q_array_funcs convention):\n  " +
        offenders.mkString("\n  "))
  }

  test("the r17 failure shape is rejected: a raw array column is flagged") {
    // regression guard for the guard: bpe_encode WITHOUT the array_join
    // serialization is exactly what must be caught
    val df = graft.CompileApi.compileOnly(spark,
      """
        model m = { from [['b', 'c', 1]] as m(left, right, rank) }
        model c = { from [[1, 'abcd']] as c(id, text) }
        from bpe_encode('c', 'id', 'text', 'm')
      """, sfDir, None)
    val bad = QueryCatalog.nonScalarColumns(df.schema)
    assert(bad.exists(_.startsWith("bpe_tokens")), s"expected bpe_tokens flagged, got $bad")
  }
}
