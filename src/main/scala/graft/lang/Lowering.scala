package graft.lang

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import scala.collection.mutable

final class LoweringException(msg: String) extends Exception(msg)

/** Lowers a Graft AST onto `DataFrame`/`Column` trees.
  *
  * Design notes (SURVEY.md §7 decision (b)): we build declarative DataFrame
  * plans and let Catalyst do predicate pushdown, column pruning, join
  * selection and AQE. Schema-aware operators (exclude/rename/shift, the
  * bare-`group by` "grouped columns" semantics, dot-aggregation) are resolved
  * here against the child DataFrame's schema — playing the role of the
  * reference's typer (reference: analyzer/AggregationResolver.scala,
  * typer/Typer.scala) without a separate static pass.
  */
object Lowering {

  final case class Context(
      spark: SparkSession,
      tableResolver: String => DataFrame,
      basePath: String = "",
      models: mutable.Map[String, ModelDef] = mutable.Map.empty,
      vals: mutable.Map[String, Expr] = mutable.Map.empty,
      tests: mutable.ListBuffer[(DataFrame, Expr)] = mutable.ListBuffer.empty,
      debugs: mutable.ListBuffer[DataFrame] = mutable.ListBuffer.empty,
      funcs: mutable.Map[String, FuncDef] = mutable.Map.empty,
      partials: mutable.Map[String, PartialDef] = mutable.Map.empty,
      params: Seq[Any] = Nil,
      flows: mutable.Map[String, FlowDefStmt] = mutable.Map.empty,
      /** name-as-written → canonical table identifier (type bindings). */
      typeBindings: mutable.Map[String, String] = mutable.Map.empty,
      /** type member-def name → (body, dialect) — sql-template methods from
        * `type … in <dialect>` blocks; portable dialects win (see
        * registerTypeMembers). */
      typeMemberDefs: mutable.Map[String, (Expr, String)] = mutable.Map.empty,
      /** subscribe() sites seen while lowering: (watermark column, raw
        * params), each site with all its parameters. */
      subscriptions: mutable.ListBuffer[(Option[String], Map[String, String])] =
        mutable.ListBuffer.empty,
      /** `use <schema>` state: unqualified table names retry with this
        * prefix (reference: lazy catalog — validation happens at table
        * resolution, not at the use statement). */
      currentSchema: mutable.Map[String, String] = mutable.Map.empty,
      /** Streaming substitution: when set, every SubscribeRel reads THIS
        * streaming DataFrame (a readStream source) in place of its child.
        * [[lowerStreamingAgg]] sets it, so the streaming plan is the batch
        * lowering with a streaming leaf. */
      streamingSub: Option[DataFrame] = None,
      /** `-> Flow` jump targets requested in this context, keyed by the
        * stage that requested them (None when requested outside a flow
        * stage); FlowRunner triggers each as a new run AFTER the current
        * flow completes and only if the jumping stage SUCCEEDED — a stage
        * whose body lowers but then fails during materialization must not
        * fire its jump (reference FlowExecutor: a jump transfers control
        * only, bounded by maxJumpDepth against cycles). */
      jumps: mutable.ListBuffer[(Option[String], String)] = mutable.ListBuffer.empty,
      /** Name of the flow stage currently lowering in this context, set by
        * FlowRunner so jump requests can be attributed to their stage. */
      stageName: Option[String] = None,
      /** Analysis-only lowering (LSP schema probes, compile-only API,
        * playground validation): table functions whose lowering runs a job
        * or writes return an empty frame of their declared schema instead
        * (TableFunctions.lower). */
      analysisOnly: Boolean = false,
      /** Unaliased frames of the parameterless models lowered in the current
        * statement, keyed by the model and the vals in scope (a
        * parameterized model's bindings are visible to the models it
        * references): a model referenced twice runs its table functions'
        * jobs once, as [[graft.Tables.read]] hands back one frame per table.
        * [[lowerStatements]] empties it around each statement, since the
        * REPL and server keep one Context across inputs and a DML statement
        * changes what a model reads. */
      modelFrames: mutable.Map[(ModelDef, Map[String, Expr]), DataFrame] = mutable.Map.empty
  )

  /** Lowering result: either a plain DataFrame or a "grouped" relation —
    * the state after a bare `group by`, where subsequent `where` clauses are
    * HAVING predicates and projections happen in aggregation mode
    * (reference semantics: AggregationType, DataType.scala:298-317). */
  private sealed trait LRes
  private final case class Plain(df: DataFrame) extends LRes
  private final case class Grouped(
      df: DataFrame,
      keys: List[SelectItem],
      havings: List[Expr],
      style: GroupingStyle,
      /** `pivot on col in (…)` awaiting its group-by/agg (pivot-order.wv
        * shape): (pivot column, pivot values). */
      pivot: Option[(String, List[Any])] = None,
      /** The window or session of a grouped subscription, an extra key. */
      window: Option[WindowKey] = None
  ) extends LRes

  /** The window or session a group-by over a subscription adds as a key:
    * Spark groups on the struct column `key`, and the output carries its
    * bounds as `<prefix>_start_ms` and `<prefix>_end_ms`, the end moved back
    * by `endShiftMs`. */
  private final case class WindowKey(key: Column, prefix: String, endShiftMs: Long)

  /** A subscription's window (window_size[, window_slide], as Spark
    * intervals) or session (session_gap in ms, session_keys). */
  private sealed trait SubGrouping
  private final case class Windowed(size: String, slide: Option[String]) extends SubGrouping
  private final case class Sessioned(gapMs: Long, keys: List[String]) extends SubGrouping

  /** The subscription parameters a group-by consumes as keys. */
  private val groupingParams = Set("window_size", "window_slide", "session_gap", "session_keys")

  def lowerStatements(stmts: List[Statement], ctx: Context): Option[DataFrame] = {
    var last: Option[DataFrame] = None
    def statement(stmt: Statement): Unit = stmt match {
      case m: ModelDef => ctx.models(m.name) = m
      case ValDef(name, e) =>
        // vals evaluate ONCE at declaration (reference semantics: a val of
        // ulid_string is one id, not one per reference). Constants fold;
        // anything else is evaluated driver-side over a 1-row plan.
        ctx.vals(name) =
          if (constValue(e).isDefined || hasSubquery(e)) e // a subquery stays lazy
          else
            try {
              val v = ctx.spark.range(1)
                .select(expr(e, ExprCtx(ctx, aggMode = false)).as("v"))
                .collect().head.get(0)
              v match {
                case null => NullLit()
                case b: Boolean => BoolLit(b)
                case n: Long => LongLit(n)
                case i: Int => LongLit(i.toLong)
                case i: Short => LongLit(i.toLong)
                case i: Byte => LongLit(i.toLong)
                case d: Double => DoubleLit(d)
                case f: Float => DoubleLit(f.toDouble)
                case s: String => StringLit(s)
                case d: java.math.BigDecimal => DecimalLit(BigDecimal(d))
                case arr: scala.collection.Seq[_] =>
                  // array-valued val (e.g. val ks = split(...)): keep it an
                  // array literal so `in(ks)` / subscripts stay typed
                  ArrayLit(arr.toList.map {
                    case null => NullLit()
                    case b: Boolean => BoolLit(b)
                    case n: Long => LongLit(n)
                    case i: Int => LongLit(i.toLong)
                    case d: Double => DoubleLit(d)
                    case s: String => StringLit(s)
                    case other => StringLit(String.valueOf(other))
                  })
                // dates/timestamps render as their ISO text — comparisons
                // against date/timestamp columns re-cast on use
                case d: java.sql.Date => StringLit(d.toString)
                case t: java.sql.Timestamp => StringLit(t.toString)
                case other => throw new LoweringException(
                  s"val result type ${other.getClass.getSimpleName} cannot be re-bound as a literal")
              }
            } catch { case _: Throwable => e } // fall back to substitution
      case f: FuncDef => ctx.funcs(f.name.toLowerCase) = f
      case p: PartialDef => ctx.partials(p.name.toLowerCase) = p
      case fl: FlowDefStmt =>
        // definition-time validation: merge fan-ins and state gates must
        // reference defined stages (reference: spec/neg
        // flow-merge-undefined-stage.wv, flow-trigger-undefined-stage.wv)
        val stageNames = fl.stages.map(_.name).toSet
        def gateNames(g: GateExpr): List[String] = g match {
          case GateAtom(s, _) => List(s)
          case GateAnd(l, r) => gateNames(l) ++ gateNames(r)
          case GateOr(l, r) => gateNames(l) ++ gateNames(r)
        }
        fl.stages.foreach { sp =>
          val refs = sp.body.left.getOrElse(Nil) ++ sp.gate.toList.flatMap(gateNames)
          refs.filterNot(stageNames.contains).foreach { missing =>
            throw new LoweringException(
              s"flow ${fl.name}: stage ${sp.name} references undefined stage '$missing'")
          }
        }
        ctx.flows(fl.name) = fl // declaration only
      case QueryStatement(rel) if !rel.isInstanceOf[DeleteRel] =>
        last = Some(lower(rel, ctx))
      case SaveTo(rel, target, append, parts, options) if target.startsWith("jdbc:") =>
        // database sink: `save to 'jdbc:<url>' with table: 'name'` (+ any
        // driver options passed through) — the write side of the connector
        // surface (sources/Jdbc; reference DBConnector shipped INSERTs, here
        // Spark's JDBC writer batches them per partition in parallel)
        val table = options.collectFirst {
          case ("table", v) => v
          case ("dbtable", v) => v
        }.getOrElse(throw new LoweringException(
          "jdbc save target needs a table: `save to 'jdbc:…' with table: 'name'`"))
        val passthrough = options.filterNot {
          case (k, _) => k == "table" || k == "dbtable"
        }.toMap
        val df = lower(rel, ctx)
        graft.sources.Jdbc.write(df, target, table, append, passthrough)
        last = Some(df)
      case SaveTo(rel, target, append, parts, options) =>
        val df = lower(rel, ctx)
        val mode = if (append) "append" else "overwrite"
        var w = df.write.mode(mode)
        if (parts.nonEmpty) w = w.partitionBy(parts: _*)
        // bucketed_on/bucket_count (reference td-trino/create-table-with.wv)
        // → Spark bucketBy: hash-bucketed managed tables let later equi-joins
        // and aggregations on the bucket key skip the shuffle entirely
        val bucketCols = options.collectFirst {
          case ("bucketed_on", v) => v.split(',').map(_.trim).filter(_.nonEmpty)
        }.getOrElse(Array.empty[String])
        val bucketCount = options.collectFirst {
          case ("bucket_count", v) => v.replace("_", "").toInt
        }.getOrElse(8)
        // (bucketBy is a table-catalog feature; Spark's path writer rejects
        // it, so a bucketed save to a raw path ignores the bucketing spec)
        if (bucketCols.nonEmpty && !isPathTarget(target))
          w = w.bucketBy(bucketCount, bucketCols.head, bucketCols.tail: _*)
        // writer options (`with compression: 'zstd'`): compression maps to
        // the parquet codec; engine-specific knobs (row_group_size) pass
        // through and are ignored by datasources that lack them
        options.foreach {
          case ("bucketed_on", _) | ("bucket_count", _) => ()
          case (k, v) => w = w.option(k, v)
        }
        if (isPathTarget(target)) {
          val path = resolveTargetPath(target, ctx)
          writeByExtension(w, target, path)
        } else saveAsTableResilient(w, target, append, ctx)
        last = Some(df)
      case QueryStatement(DeleteRel(rel0)) =>
        // terminal `delete` pipe: `from t where c delete` is `delete from t
        // where c`, and a bare delete removes every row
        var r = rel0
        val conds = mutable.ListBuffer.empty[Expr]
        var unwrap = true
        while (unwrap) r match {
          case Filter(c, cond) => conds ++= splitConjuncts(cond); r = c
          case BracedRelation(c) => r = c
          case _ => unwrap = false
        }
        val target = r match {
          case TableRef(t) => t
          case FileScan(path) => path
          case _ => throw new LoweringException(
            "delete must terminate a (filtered) table scan")
        }
        lowerStatements(List(DeleteStmt(target,
          conds.reduceLeftOption(BinaryOp("and", _, _)).getOrElse(BoolLit(true)))), ctx)
      case AlterTableStmt(table, ifExists, op) =>
        val isPath = isPathTarget(table)
        val exists =
          if (isPath) new java.io.File(resolveTargetPath(table, ctx)).exists()
          else ctx.spark.catalog.tableExists(table)
        if (!exists && ifExists) () // `if exists` on a missing target: no-op
        else op match {
          // catalog-level operations → Spark DDL for catalog tables; a
          // PATH target would crash Spark's DDL parser on the slash, so
          // rename maps to a filesystem move and properties (which a bare
          // parquet directory cannot carry) error cleanly
          case RenameTableTo(n) =>
            if (isPath) {
              val from = new java.io.File(resolveTargetPath(table, ctx))
              val to =
                if (isPathTarget(n)) new java.io.File(resolveTargetPath(n, ctx))
                else new java.io.File(from.getParentFile, n)
              if (!from.renameTo(to))
                throw new LoweringException(
                  s"cannot rename '$from' to '$to' (target exists or filesystem refused)")
            } else ctx.spark.sql(s"ALTER TABLE $table RENAME TO $n").collect()
          case SetPropertiesOp(props) =>
            if (isPath)
              throw new LoweringException(
                s"'$table' is a file path — bare parquet has no table properties to set")
            val kv = props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ")
            ctx.spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ($kv)").collect()
          case AddColumnOp(c, t, ifNotExists) =>
            val df = readTarget(table, ctx)
            if (!(ifNotExists && df.columns.exists(_.equalsIgnoreCase(c)))) {
              if (isPath)
                // a parquet path has no catalog — materialize the column
                overwriteTarget(table, df.withColumn(c, F.lit(null).cast(t)), ctx)
              else ctx.spark.sql(s"ALTER TABLE $table ADD COLUMNS ($c $t)").collect()
            }
          // column-shape operations on plain parquet are read-transform-
          // overwrite rewrites (same policy and caveats as delete/update:
          // inherent to a format without a copy-on-write metadata layer)
          case DropColumnOp(c, ie) =>
            val df = readTarget(table, ctx)
            if (df.columns.exists(_.equalsIgnoreCase(c)))
              overwriteTarget(table, df.drop(c), ctx)
            else if (!ie)
              throw new LoweringException(s"column $c does not exist in $table")
          case RenameColumnOp(o, n) =>
            overwriteTarget(table, readTarget(table, ctx).withColumnRenamed(o, n), ctx)
          case SetColumnTypeOp(c, t) =>
            val df = readTarget(table, ctx)
            overwriteTarget(table, df.withColumn(c, F.col(c).cast(t)), ctx)
        }
      case DeleteStmt(target, cond) =>
        // DELETE WHERE cond: keep rows where cond is false or null (SQL
        // semantics). Plain parquet has no copy-on-write layer (that is
        // Delta/Iceberg territory at 100 TB) — materialize the survivors via
        // localCheckpoint to break lineage from the files being overwritten,
        // then rewrite in place (reference Delete, update.scala:57, delegates
        // to the target engine the same way).
        if (!prunedRewrite(target, cond, ctx,
            (df, c) => df.filter(!F.coalesce(c, F.lit(false))))) {
          val df = readTarget(target, ctx)
          val condCol = expr(cond, ExprCtx(ctx, aggMode = false, dfOpt = Some(df)))
          val keep = df.filter(!F.coalesce(condCol, F.lit(false)))
          overwriteTarget(target, keep, ctx)
        }
      case TruncateStmt(target) =>
        val df = readTarget(target, ctx)
        overwriteTarget(target, df.limit(0), ctx)
      case ExecuteStmt(sql) => ctx.spark.sql(sql).collect()
      case UseStmt(name) =>
        // schema switch: recorded for table resolution (unqualified names
        // retry with this prefix); validation is lazy like the reference's
        // LazyCatalog — spec/basic/use-schema.wv uses schemas that only
        // exist at query time. Known Spark databases also switch for real.
        ctx.currentSchema("schema") = name.split('.').last
        try ctx.spark.sql(s"USE ${name.split('.').last}").collect()
        catch { case _: Throwable => () }
      case UpdateStmt(target, sets, cond) =>
        // UPDATE SET as read-modify-write: each set column becomes
        // when(cond, newExpr).otherwise(old); rows not matching keep values
        def applySets(df: DataFrame, condCol: Option[Column]): DataFrame = {
          val ec = ExprCtx(ctx, aggMode = false, dfOpt = Some(df))
          var out = df
          sets.foreach { case (c, e) =>
            val nv = expr(e, ec)
            out = out.withColumn(c, condCol match {
              case Some(p) => F.when(p, nv).otherwise(F.col(c))
              case None => nv
            })
          }
          out
        }
        val pruned = cond.exists(c0 => prunedRewrite(target, c0, ctx,
          (df, c) => applySets(df, Some(F.coalesce(c, F.lit(false)))),
          mutatedCols = sets.map(_._1).toSet))
        if (!pruned) {
          val df = readTarget(target, ctx)
          val condCol = cond.map(c =>
            F.coalesce(expr(c, ExprCtx(ctx, aggMode = false, dfOpt = Some(df))), F.lit(false)))
          overwriteTarget(target, applySets(df, condCol), ctx)
        }
      case PackageDecl(_) | ImportStmt(_) => () // scoping is lazy here
      case TypeDefStmt(name, location, _, defs, _) =>
        // schema-bound table type: remap bare/qualified references onto the
        // bound table identifier (fields are declarative — schemas resolve
        // lazily from the data itself). Dialect variants (`in trino`,
        // `in duckdb`) carry member defs, not a catalog binding.
        val dialect = location.getOrElse("")
        val isDialect = dialect == "trino" || dialect == "duckdb" || dialect == "hive"
        if (!isDialect) location.foreach { loc =>
          val parts = loc.split('.')
          val schema = parts.last
          val canonical =
            if (schema == "main" || schema == "default") name else s"$schema.$name"
          ctx.typeBindings(name) = canonical
          ctx.typeBindings(s"$loc.$name") = canonical
          ctx.typeBindings(s"$schema.$name") = canonical
        }
        // member defs: portable bodies win over engine-specific ones —
        // Spark cannot run trino's td_* UDF templates, duckdb variants are
        // the deliberate portable stubs (reference cdp_types.wv pattern)
        def rank(d: String): Int = d match {
          case "" | "duckdb" => 2
          case _ => 1
        }
        defs.foreach { case (dn, body) =>
          val key = dn.toLowerCase
          val keep = ctx.typeMemberDefs.get(key).forall { case (_, d) =>
            rank(dialect) >= rank(d)
          }
          if (keep) ctx.typeMemberDefs(key) = (body, dialect)
        }
      case MergeInto(target, srcRel, keys, matchedDelete, notMatchedInsert) =>
        // upsert as a join rewrite (no copy-on-write table format available):
        //   update-or-insert: (target anti-join source on keys) ∪ source
        //   matched-delete:   (target anti-join source) ∪ (source anti-join target)
        //   update-only (no insert clause): (target anti source) ∪ (source semi target)
        // One shuffle per anti/semi-join on the merge keys; the union is free.
        val t = readTarget(target, ctx)
        val s0 = lower(srcRel, ctx)
        val missing = t.columns.filterNot(c => s0.columns.exists(_.equalsIgnoreCase(c)))
        if (missing.nonEmpty)
          throw new LoweringException(
            s"merge source is missing target columns: ${missing.mkString(", ")}")
        val sAligned = s0.select(t.columns.map(F.col).toSeq: _*)
        // SQL MERGE semantics: multiple source rows matching one target row
        // is an error — the guard rides the merged plan itself (a window
        // count over the merge keys + raise_error grafted onto EVERY key
        // column) instead of an eager count/count-distinct job at
        // lowering time: `merge into` is ONE job, and the window's shuffle
        // on the merge keys is the same partitioning the joins below need,
        // so AQE reuses the exchange rather than adding one. All key
        // columns are wrapped because the guard only fires when a wrapped
        // column is actually evaluated downstream — the joins below
        // evaluate the keys, but pruning must not be able to drop the one
        // guarded column.
        val dupW = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(F.col): _*)
        val keyCols = keys.map(k =>
          sAligned.columns.find(_.equalsIgnoreCase(k)).getOrElse(k))
        val s = keyCols.foldLeft(
            sAligned.withColumn("__graft_kcnt", F.count(F.lit(1)).over(dupW))) {
            (acc, kc) =>
              acc.withColumn(kc,
                F.when(F.col("__graft_kcnt") > 1, F.raise_error(F.lit(
                  s"merge source has duplicate rows per key (${keys.mkString(", ")})")))
                  .otherwise(F.col(kc)))
          }
          .drop("__graft_kcnt")
        val tKeys = t.select(keys.map(F.col): _*).distinct()
        val untouched = t.join(s.select(keys.map(F.col): _*).distinct(), keys, "left_anti")
        val merged =
          if (!matchedDelete && notMatchedInsert)
            untouched.unionByName(s) // plain upsert: every source row survives
          else {
            // matched target rows: deleted, or replaced by their source row
            val matchedPart =
              if (matchedDelete) None else Some(s.join(tKeys, keys, "left_semi"))
            // unmatched source rows: inserted only with an insert clause
            val insertPart =
              if (notMatchedInsert) Some(s.join(tKeys, keys, "left_anti")) else None
            (matchedPart.toSeq ++ insertPart).foldLeft(untouched)(_ unionByName _)
          }
        overwriteTarget(target, merged, ctx)
      case CreateTableAs(name, rel, orReplace, parts) =>
        val df = lower(rel, ctx)
        val mode = if (orReplace) "overwrite" else "errorifexists"
        val w0 = df.write.mode(mode)
        val w = if (parts.nonEmpty) w0.partitionBy(parts: _*) else w0
        w.saveAsTable(name)
        last = Some(df)
    }
    stmts.foreach { stmt =>
      ctx.modelFrames.clear()
      try statement(stmt) finally ctx.modelFrames.clear()
    }
    last
  }

  /** '10 ms' / '2 s' / '7 days' → milliseconds (wait() argument). Shares
    * [[graft.streaming.Subscribe.durationMs]]: one duration grammar across
    * the language (space-free forms accepted, unknown units REJECTED — a
    * silently-milliseconds '2 weeks' waited 2 ms). */
  private def parseDurationMs(s: String): Long =
    try graft.streaming.Subscribe.durationMs(s)
    catch {
      case e: Exception => throw new LoweringException(
        s"wait: cannot parse duration '$s' (${e.getMessage})")
    }

  /** saveAsTable in overwrite mode errors with LOCATION_ALREADY_EXISTS when
    * the metastore forgot the table (fresh session) but its warehouse dir
    * survived. For overwrite semantics, drop the stale state and retry. */
  private def saveAsTableResilient(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      target: String,
      append: Boolean,
      ctx: Context
  ): Unit =
    try w.saveAsTable(target)
    catch {
      case e: Throwable
          if !append && String.valueOf(e.getMessage).contains("LOCATION_ALREADY_EXISTS") =>
        ctx.spark.sql(s"DROP TABLE IF EXISTS $target").collect()
        val warehouse = ctx.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
          .stripPrefix("file:")
        val parts = target.split('.')
        val loc = new java.io.File(
          if (parts.length == 2) s"$warehouse/${parts(0)}.db/${parts(1)}"
          else s"$warehouse/$target")
        def rmrf(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
          f.delete()
        }
        rmrf(loc)
        w.saveAsTable(target)
    }

  // ENDS-with, not contains: a schema-qualified catalog table like
  // 'etl.json_events' must not be misread as a file path (same guard as
  // resolveTable's extension regex)
  private def isPathTarget(target: String): Boolean =
    target.contains("/") ||
      target.toLowerCase.matches(".*\\.(parquet|csv|orc|json|txt|text)(\\.gz)?$")

  /** File-sink format dispatch by target extension — parquet default, csv
    * with header (the reference's DuckDB COPY contract), plus orc and json
    * (Spark-native formats the columnar engine gets for free; the ORC jars
    * ship in every Spark distribution). */
  private def writeByExtension(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      target: String, path: String): Unit = {
    val t = target.toLowerCase
    if (t.endsWith(".csv")) w.option("header", "true").csv(path)
    else if (t.endsWith(".orc")) w.orc(path)
    else if (t.endsWith(".json")) w.json(path)
    else if (t.endsWith(".txt") || t.endsWith(".text"))
      w.text(path) // single string column required; Spark errors clearly otherwise
    else w.parquet(path)
  }

  private def resolveTargetPath(target: String, ctx: Context): String =
    if (target.startsWith("/") || ctx.basePath.isEmpty) target
    else s"${ctx.basePath.stripSuffix("/")}/$target"

  private def readTarget(target: String, ctx: Context): DataFrame =
    if (isPathTarget(target)) readFile(target, ctx)
    else ctx.spark.table(target)

  /** Partition-pruned in-place DML: when the target is a hive-partitioned
    * parquet path and the predicate pins the partition column to a literal,
    * rewrite ONLY the affected partition directories — at 100 TB a
    * one-partition delete must not rewrite the table (the unpartitioned /
    * unpinned cases still take the full read-overwrite path, which is
    * inherent to plain parquet without a copy-on-write table format).
    * Returns true when the rewrite was handled here. */
  private def prunedRewrite(
      target: String,
      cond: Expr,
      ctx: Context,
      transform: (DataFrame, Column) => DataFrame,
      mutatedCols: Set[String] = Set.empty
  ): Boolean = {
    if (!isPathTarget(target)) return false
    val root = new java.io.File(resolveTargetPath(target, ctx))
    if (!root.isDirectory) return false
    val partDirs = root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
    if (partDirs.isEmpty) return false
    val pcol = partDirs.head.getName.takeWhile(_ != '=')
    if (!partDirs.forall(_.getName.startsWith(pcol + "="))) return false
    // mutating the partition column would strand rows in the wrong directory
    if (mutatedCols.exists(_.equalsIgnoreCase(pcol))) return false
    val eqVal: Option[Any] = splitConjuncts(cond).collectFirst {
      case BinaryOp("=", Ident(c), v)
        if c.equalsIgnoreCase(pcol) && constValue(v).isDefined => constValue(v).get
      case BinaryOp("=", v, Ident(c))
        if c.equalsIgnoreCase(pcol) && constValue(v).isDefined => constValue(v).get
    }
    eqVal match {
      case None => false
      case Some(v) =>
        val want = String.valueOf(v)
        val affected = partDirs.filter { d =>
          java.net.URLDecoder.decode(d.getName.drop(pcol.length + 1), "UTF-8") == want
        }
        affected.foreach { d =>
          // the partition column lives in the directory name — bind it as a
          // literal so the predicate (and update expressions) see it
          val df = ctx.spark.read.parquet(d.getAbsolutePath).withColumn(pcol, F.lit(v))
          val condCol = expr(cond, ExprCtx(ctx, aggMode = false, dfOpt = Some(df)))
          val out = transform(df, condCol).drop(pcol)
          out.localCheckpoint(true).write.mode("overwrite").parquet(d.getAbsolutePath)
        }
        true
    }
  }

  private def overwriteTarget(target: String, df: DataFrame, ctx: Context): Unit =
    if (isPathTarget(target)) {
      // break lineage from the source files so the overwrite does not read
      // from what it is replacing
      val path = resolveTargetPath(target, ctx)
      writeByExtension(df.localCheckpoint(true).write.mode("overwrite"), target, path)
    } else graft.Tables.overwriteTable(ctx.spark, target, df)

  def lower(rel: Relation, ctx: Context): DataFrame =
    materialize(lowerRel(rel, ctx), ctx)

  /** STREAMING execution of a subscription query: the batch lowering of the
    * same statements with the stream in place of the subscription's child
    * (the reference's Incrementalize leaf swap, Incrementalize.scala:27-107).
    * The SubscribeRel arm sets the watermark and dedup-on-ingest, and a
    * group-by groups on the same window or session column as in the batch
    * refresh, so the staged appends compare row-for-row, with the same
    * columns, against a full refresh. Trailing order/limit stages are
    * presentation-only and skipped — a streaming append sink has no global
    * order. Two shapes above the aggregation have no incremental meaning and
    * fail here: a limit/offset and a `select distinct`.
    */
  def lowerStreamingAgg(
      stmts: List[Statement],
      stream: DataFrame,
      ctx: Context
  ): DataFrame = {
    require(stream.isStreaming, "lowerStreamingAgg requires a streaming DataFrame (readStream)")
    // register defs (models/vals/funcs) without executing anything
    stmts.foreach {
      case m: ModelDef => ctx.models(m.name) = m
      case f: FuncDef => ctx.funcs(f.name.toLowerCase) = f
      case p: PartialDef => ctx.partials(p.name.toLowerCase) = p
      case v: ValDef => ctx.vals(v.name) = v.expr
      case _ => ()
    }
    val rel0 = stmts.reverse.collectFirst { case QueryStatement(r) => r }.getOrElse(
      throw new LoweringException("lowerStreamingAgg: no query statement"))
    def strip(r: Relation): Relation = r match {
      case Sort(c, _) => strip(c)
      case Limit(c, _) => strip(c)
      case Offset(c, _) => strip(c)
      case other => other
    }
    val rel = strip(rel0)
    // the stages above the aggregation, or Nil when the query does not aggregate
    def aboveAgg(r: Relation, acc: List[Relation]): List[Relation] = r match {
      case _: Agg => acc
      case p: Project if p.items.exists(it => hasAgg(it.expr)) => acc
      case u: UnaryRelation => aboveAgg(u.child, u :: acc)
      case _ => Nil
    }
    aboveAgg(rel, Nil).foreach {
      case _: Limit | _: Offset =>
        throw new LoweringException(
          "streaming aggregation: limit/offset below a post-agg stage has no " +
            "incremental meaning — move it to the end of the pipeline")
      case Project(_, _, true) =>
        throw new LoweringException(
          "streaming aggregation: `select distinct` after the agg would need " +
            "a second stateful dedup — deduplicate with group keys instead")
      case _ => ()
    }
    lower(rel, ctx.copy(streamingSub = Some(stream), modelFrames = mutable.Map.empty))
  }

  /** Bare `group by` at the end of a pipeline renders keys + arbitrary() of
    * every remaining column (reference: SqlGenerator.scala:487). */
  private def materialize(res: LRes, ctx: Context): DataFrame = res match {
    case Plain(df) => df
    case g: Grouped =>
      // reference naming: EVERY input column (the grouping keys included)
      // surfaces as arbitrary(col) after the keys — SqlGenerator.scala:1252
      // `keys ++ defaultAggExprs` maps over all inputRelationType.fields
      val aggs = g.df.columns.map(c => F.any_value(F.col(c)).as(s"arbitrary($c)"))
      aggregate(g, aggs.toList, Nil, ctx)
  }

  /** The `where`, `agg` and `select` stages over a lowered child (a `where`
    * after a `group by` is a HAVING). Expressions evaluated where no single
    * frame is at hand (aggregates, grouped items) get the names a subquery
    * in them may take from the outer row through `ExprCtx.enclosing`. */
  private def filterOn(res: LRes, cond: Expr, ctx: Context): LRes = res match {
    case g: Grouped => g.copy(havings = g.havings :+ cond)
    case Plain(df) => Plain(df.filter(expr(cond, ExprCtx(ctx, aggMode = false, dfOpt = Some(df)))))
  }

  private def aggOn(res: LRes, items0: List[SelectItem], ctx: Context): LRes = res match {
    case g: Grouped =>
      val items = items0.map(it =>
        it.copy(expr = subqueriesPerGroup(bindPositionalKeys(it.expr, g.keys))))
      val ectx = ExprCtx(ctx, aggMode = true, enclosing = groupedNames(g))
      // under a pending pivot a single agg stays UNALIASED so the output
      // columns are the bare pivot values (`1951`, not `1951_count`)
      val aggs =
        if (g.pivot.isDefined && items.length == 1) List(expr(items.head.expr, ectx))
        else items.zipWithIndex.map { case (it, i) => expr(it.expr, ectx).as(itemName(it, i)) }
      val countish = items.forall(it => it.expr match {
        case DotRef(_, n) => n.equalsIgnoreCase("count")
        case MethodCall(_, n, _) => n.equalsIgnoreCase("count")
        case FunctionCall(n, _, _, _) => n.equalsIgnoreCase("count")
        case _ => false
      })
      Plain(aggregate(g, aggs, Nil, ctx,
        pivotCountFill = g.pivot.isDefined && countish))
    case Plain(df) =>
      val ectx = ExprCtx(ctx, aggMode = true, enclosing = df.columns.toSeq)
      val aggs = items0.zipWithIndex.map { case (it, i) => expr(it.expr, ectx).as(itemName(it, i)) }
      Plain(df.agg(aggs.head, aggs.tail: _*))
  }

  private def projectOn(
      res: LRes,
      items0: List[SelectItem],
      distinct: Boolean,
      ctx: Context
  ): LRes = {
    val out = res match {
      case g0: Grouped =>
        // `group by supplier_no select supplier_no = l_suppkey`: a group
        // key may name a FORWARD select alias (reference typer resolves
        // grouping keys against the projection); substitute the aliased
        // expression into the key and make the item reference the key name
        val (g, items1a) = resolveForwardKeys(g0, items0)
        // a select item whose expression structurally equals a grouping
        // key (SQL shape: GROUP BY extract(year FROM d) … SELECT
        // extract(year FROM d)) references the key's OUTPUT column — the
        // source columns are gone after aggregation
        val keyOut: Map[Expr, String] = g.keys.zipWithIndex
          .map { case (k, i) => (k.expr, itemName(k, i)) }.toMap
        val items1 = items1a.map { it =>
          keyOut.get(it.expr) match {
            case Some(kn) if !hasAgg(it.expr) && !it.expr.isInstanceOf[Ident] =>
              it.copy(expr = Ident(kn))
            case _ => it
          }
        }
        // projection over a grouped relation: agg items + key refs;
        // `_1`/`_2` reference grouping keys positionally
        val items = items1.map(it => it.copy(expr = bindPositionalKeys(it.expr, g.keys)))
        val ectx = ExprCtx(ctx, aggMode = false, enclosing = groupedNames(g))
        val aggItems = items.zipWithIndex.filter { case (it, _) => hasAgg(it.expr) }
        val aggs = aggItems.map { case (it, i) =>
          expr(subqueriesPerGroup(it.expr), ectx.copy(aggMode = true)).as(itemName(it, i))
        }
        val post = items.zipWithIndex.map { case (it, i) =>
          if (hasAgg(it.expr)) F.col(itemName(it, i))
          else expr(it.expr, ectx).as(itemName(it, i))
        }
        aggregate(g, aggs.toList, post.toList, ctx)
      case Plain(df) =>
        if (items0.exists(it => hasAgg(it.expr))) {
          // global aggregation: select count(*), _.count, …
          val ectx = ExprCtx(ctx, aggMode = true, enclosing = df.columns.toSeq)
          val aggs = items0.zipWithIndex.map { case (it, i) => expr(it.expr, ectx).as(itemName(it, i)) }
          df.agg(aggs.head, aggs.tail: _*)
        } else {
          val ectx = ExprCtx(ctx, aggMode = false, dfOpt = Some(df))
          df.select(items0.zipWithIndex.map { case (it, i) => selectCol(it, i, ectx) }: _*)
        }
    }
    Plain(if (distinct) out.distinct() else out)
  }

  /** A scalar subquery in a grouped aggregate outside every aggregate call
    * becomes `any_value(subquery)`: Spark takes a correlated one there only
    * inside an aggregate function, and one correlated on the grouping keys
    * has a single value per group. */
  private def subqueriesPerGroup(e: Expr): Expr = {
    def aggCall(x: Expr): Boolean = x match {
      case DotRef(_, n) => Stdlib.isAggMethod(n)
      case MethodCall(_, n, _) => Stdlib.isAggMethod(n)
      case FunctionCall(n, _, _, _) => Stdlib.aggFunctionNames.contains(n.toLowerCase)
      case _ => false
    }
    // bottom-up: wrap every subquery, then unwrap those an aggregate call holds
    transformExpr(e) {
      case s: ScalarSubquery => MethodCall(s, "any_value", Nil)
      case a if aggCall(a) => transformExpr(a) { case MethodCall(s: ScalarSubquery, "any_value", Nil) => s }
    }
  }

  /** The input columns and the key names of a grouping. */
  private def groupedNames(g: Grouped): Seq[String] =
    g.df.columns.toSeq ++ g.keys.zipWithIndex.map { case (k, i) => itemName(k, i) } ++
      g.window.toSeq.flatMap(w => Seq(s"${w.prefix}_start_ms", s"${w.prefix}_end_ms"))

  /** groupBy/rollup/cube + agg + having filters. */
  private def aggregate(
      g: Grouped,
      aggCols: List[Column],
      postSelect: List[Column],
      ctx: Context,
      pivotCountFill: Boolean = false
  ): DataFrame = {
    val ectx = ExprCtx(ctx, aggMode = false, enclosing = groupedNames(g))
    val keyCols = g.keys.zipWithIndex.map { case (k, i) => expr(k.expr, ectx).as(itemName(k, i)) }
    val havingCols = g.havings.zipWithIndex.map { case (h, i) =>
      expr(subqueriesPerGroup(h), ectx.copy(aggMode = true)).as(s"__having_$i")
    }
    val allAggs = aggCols ++ havingCols
    val grouped0 = g.style match {
      case GroupingStyle.Plain => g.df.groupBy(keyCols ++ g.window.map(_.key.as("__w")): _*)
      case GroupingStyle.Rollup => g.df.rollup(keyCols: _*)
      case GroupingStyle.Cube => g.df.cube(keyCols: _*)
      case GroupingStyle.Sets(sets) =>
        // Spark 4 native grouping sets (SURVEY §2.E; reference
        // exprs.scala:1004-1032). Set members are matched to the grouping
        // columns BY EXPRESSION — an alias on the grouping column breaks the
        // match (keys silently all-null), so group unaliased and rename the
        // key columns positionally after the aggregate.
        val plainKeys = g.keys.map(k => expr(k.expr, ectx))
        g.df.groupingSets(sets.map(_.map(e => expr(e, ectx))), plainKeys: _*)
    }
    val grouped = g.pivot match {
      case Some((pc, vals)) if g.style == GroupingStyle.Plain =>
        if (g.havings.nonEmpty)
          // the pivoted aggregate renames every agg column per pivot value
          // ('2023___having_0'), so the post-agg having filter cannot
          // resolve — loud error instead of UNRESOLVED_COLUMN
          throw new LoweringException(
            "having over a pivoted aggregate is not supported — filter after the pivot instead")
        if (vals.nonEmpty) grouped0.pivot(pc, vals) else grouped0.pivot(pc)
      case Some(_) =>
        throw new LoweringException("pivot cannot combine with rollup/cube/grouping sets")
      case None => grouped0
    }
    // key-only output: a plain group-by is just DISTINCT keys, but
    // rollup/cube/grouping-sets must still run the styled aggregate (their
    // subtotal and grand-total rows are part of the key space) — a dummy
    // aggregate materializes the grouping rows and is dropped
    val keyOnlyDistinct = allAggs.isEmpty &&
      g.style == GroupingStyle.Plain && g.pivot.isEmpty && g.window.isEmpty
    var out =
      if (keyOnlyDistinct) g.df.select(keyCols: _*).distinct()
      else if (allAggs.isEmpty)
        grouped.agg(F.count(F.lit(1)).as("__graft_keyonly")).drop("__graft_keyonly")
      else grouped.agg(allAggs.head, allAggs.tail: _*)
    if (g.pivot.isDefined && pivotCountFill) {
      // count pivot: absent combinations are 0, not null (DuckDB parity)
      val keyNames = g.keys.zipWithIndex.map { case (k, i) => itemName(k, i) }
      out = out.na.fill(0L,
        out.columns.filterNot(c => keyNames.exists(_.equalsIgnoreCase(c)) ||
          c.startsWith("__having_")))
    }
    if (g.style.isInstanceOf[GroupingStyle.Sets] && !keyOnlyDistinct) {
      val keyNames = g.keys.zipWithIndex.map { case (k, i) => itemName(k, i) }
      out = out.toDF(keyNames ++ out.columns.drop(keyNames.length): _*)
    }
    g.havings.indices.foreach { i => out = out.filter(F.col(s"__having_$i")) }
    if (g.havings.nonEmpty) out = out.drop(g.havings.indices.map(i => s"__having_$i"): _*)
    // the window or session key becomes its two bounds, after the keys
    g.window.foreach { w =>
      out = out.select(out.queryExecution.analyzed.output.flatMap { a =>
        if (a.name == "__w")
          graft.streaming.Subscribe.msBounds(F.col("__w"), w.prefix, w.endShiftMs)
        else Seq(org.apache.spark.sql.graftbridge.ColumnBridge.column(a))
      }: _*)
    }
    if (postSelect.nonEmpty) out = out.select(postSelect: _*)
    out
  }

  /** Resolve group keys that name a forward select alias (q15 shape:
    * `group by supplier_no select supplier_no = l_suppkey`): the key takes
    * the aliased expression; the matching select item is rewritten to
    * reference the key output column. */
  private def resolveForwardKeys(
      g: Grouped,
      items: List[SelectItem]
  ): (Grouped, List[SelectItem]) = {
    var newItems = items
    val keys = g.keys.map { k =>
      k.expr match {
        case Ident(n) if !g.df.columns.exists(_.equalsIgnoreCase(n)) =>
          items.zipWithIndex.collectFirst {
            case (it, i) if itemName(it, i).equalsIgnoreCase(n) && !hasAgg(it.expr) => it
          } match {
            case Some(it) =>
              newItems = newItems.map(x =>
                if (x eq it) SelectItem(Ident(n), Some(n)) else x)
              SelectItem(it.expr, Some(n))
            case None => k
          }
        case _ => k
      }
    }
    (g.copy(keys = keys), newItems)
  }

  /** A select item as an output column; `*` and `q.*` pass through. */
  private def selectCol(item: SelectItem, idx: Int, ec: ExprCtx): Column = item.expr match {
    case Star(None) => F.col("*")
    case Star(Some(q)) => F.col(s"$q.*")
    case e => expr(e, ec).as(itemName(item, idx))
  }

  private def itemName(item: SelectItem, idx: Int): String =
    item.alias.getOrElse(exprName(item.expr, idx))

  private def exprName(e: Expr, idx: Int): String = e match {
    case Ident(n) => n
    case DotRef(Ident(_), n) if !Stdlib.isAggMethod(n) && !Stdlib.scalarMethods.contains(n) => n
    // reference auto-naming for dot-aggregations: age.max → max(age)
    case DotRef(Ident(c), n) if Stdlib.isAggMethod(n) => s"$n($c)"
    case MethodCall(Ident(c), n, Nil) if Stdlib.isAggMethod(n) => s"$n($c)"
    case DotRef(_, n) => n
    case MethodCall(_, n, _) => n
    case FunctionCall(n, _, _, _) => n
    case Cast(inner, _, _) => exprName(inner, idx)
    // reference auto-naming of unaliased string concatenation: the rendered
    // SQL text, right-nested (spec/basic/string-concat.wv:
    // `'a' + 'b' + 'c'` → `concat('a', concat('b', 'c'))`)
    case b @ BinaryOp("+", _, _) if concatTerms(b).exists(_.isInstanceOf[StringLit]) =>
      def nest(ts: List[String]): String = ts match {
        case t :: Nil => t
        case t :: rest => s"concat($t, ${nest(rest)})"
        case Nil => ""
      }
      nest(concatTerms(b).map(sqlLitText))
    case _ => s"_c$idx"
  }

  private def concatTerms(e: Expr): List[Expr] = e match {
    case BinaryOp("+", l, r) => concatTerms(l) ++ concatTerms(r)
    case other => List(other)
  }

  private def sqlLitText(e: Expr): String = e match {
    case StringLit(s) => "'" + s.replace("'", "''") + "'"
    case LongLit(v) => v.toString
    case DoubleLit(v) => v.toString
    case Ident(n) => n
    case other => other.toString
  }

  // ---------------------------------------------------------------------------
  // Relation lowering
  // ---------------------------------------------------------------------------
  /** The window or session a subscription's parameters declare, validated:
    * window_size[, window_slide] or session_gap + session_keys, each over
    * the watermark column. */
  private def subscriptionGrouping(pmap: Map[String, String]): Option[SubGrouping] = {
    import graft.streaming.Subscribe.{duration, durationMs}
    def dur(p: String): Option[String] = pmap.get(p).map { v =>
      try duration(v)
      catch {
        case _: IllegalArgumentException =>
          throw new LoweringException(s"subscribe: unrecognized $p '$v'")
      }
    }
    def needsWatermark(p: String): Unit =
      if (!pmap.contains("watermark_column"))
        throw new LoweringException(s"subscribe: $p requires watermark_column")
    (dur("window_size"), dur("session_gap")) match {
      case (Some(_), Some(_)) =>
        throw new LoweringException(
          "subscribe: window_size and session_gap are mutually exclusive")
      case (Some(size), None) =>
        needsWatermark("window_size")
        val slide = dur("window_slide")
        slide.foreach { sl =>
          if (durationMs(sl) <= 0 || durationMs(size) % durationMs(sl) != 0)
            throw new LoweringException(
              s"subscribe: window_slide must divide window_size (got ${pmap("window_slide")})")
        }
        Some(Windowed(size, slide))
      case (None, Some(gap)) =>
        needsWatermark("session_gap")
        val keys = pmap.get("session_keys")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toList).getOrElse(Nil)
        if (keys.isEmpty)
          throw new LoweringException("subscribe: session_gap requires session_keys")
        Some(Sessioned(durationMs(gap), keys))
      case (None, None) =>
        if (pmap.contains("window_slide"))
          throw new LoweringException("subscribe: window_slide requires window_size")
        None
    }
  }

  /** The windowed or sessionized subscription a group-by aggregates, seen
    * through operators that pass columns along (where/select/add/rename/
    * sort/limit/…), with a function that rebuilds `r` around a replacement
    * for it. Aggregations, joins, and set-ops stop the search: past one of
    * those, the window has been consumed or its provenance is ambiguous. */
  private def groupedSubscription(
      r: Relation): Option[(SubscribeRel, SubscribeRel => Relation)] = {
    def through(c: Relation, rebuild: Relation => Relation) =
      groupedSubscription(c).map { case (s, put) => (s, put.andThen(rebuild)) }
    r match {
      case s: SubscribeRel if subscriptionGrouping(s.params.toMap).isDefined =>
        Some((s, identity))
      case x: Filter => through(x.child, c => x.copy(child = c))
      case x: BracedRelation => through(x.child, c => x.copy(child = c))
      case x: AliasedRelation => through(x.child, c => x.copy(child = c))
      case x: SelectAsNamed => through(x.child, c => x.copy(child = c))
      case x: Sort => through(x.child, c => x.copy(child = c))
      case x: Limit => through(x.child, c => x.copy(child = c))
      case x: Offset => through(x.child, c => x.copy(child = c))
      case x: DedupRel => through(x.child, c => x.copy(child = c))
      case x: Project => through(x.child, c => x.copy(child = c))
      case x: TransformColumns => through(x.child, c => x.copy(child = c))
      case x: AddColumns => through(x.child, c => x.copy(child = c))
      case x: ExcludeColumns => through(x.child, c => x.copy(child = c))
      case x: RenameColumns => through(x.child, c => x.copy(child = c))
      case x: ShiftColumns => through(x.child, c => x.copy(child = c))
      case _ => None
    }
  }

  /** A parameterless model's body, lowered once per statement and vals in
    * scope (see [[Context.modelFrames]]). */
  private def lowerModel(m: ModelDef, ctx: Context): DataFrame =
    ctx.modelFrames.getOrElseUpdate((m, ctx.vals.toMap), lower(m.body, ctx))

  private def lowerRel(rel: Relation, ctx: Context): LRes = rel match {
    case TableRef(name) =>
      ctx.models.get(name) match {
        case Some(m) => lowerRel(ModelRef(name, Nil), ctx)
        case None =>
          // auto-alias by table name so `on a.x = b.y` qualifiers resolve
          val shortName = name.split('.').last
          Plain(resolveTable(name, ctx).alias(shortName))
      }

    case ModelRef(name, args) if !ctx.models.contains(name) && TableFunctions.get(name).isDefined =>
      Plain(TableFunctions.lower(TableFunctions.get(name).get, args, ctx))

    case ModelRef(name, args) =>
      val m = ctx.models.getOrElse(name,
        throw new LoweringException(s"unknown model: $name"))
      assertNoCycle(name, ctx.models.view.mapValues(_.body).toMap, "model")
      if (args.length > m.params.length)
        throw new LoweringException(
          s"model $name takes ${m.params.length} parameter(s), got ${args.length} argument(s)")
      // bind arguments (or declared defaults) as vals — Ident resolution
      // substitutes them anywhere in the body, the reference's compile-time
      // model expansion (SqlGenerator.scala:1101 `expand`). Named arguments
      // arrive as `param = value` equality expressions — unwrap them, or the
      // binding becomes self-referential (param -> Ident(param), an
      // infinite resolution loop).
      val named = mutable.Map.empty[String, Expr]
      val positional = List.newBuilder[Expr]
      args.foreach {
        case BinaryOp("=", Ident(p), v) if m.params.exists(_._1.equalsIgnoreCase(p)) =>
          named(p.toLowerCase) = v
        case a => positional += a
      }
      val pos = positional.result()
      val bindings = m.params.zipWithIndex.map { case ((pname, default), i) =>
        val v = named.getOrElse(pname.toLowerCase,
          if (i < pos.length) pos(i)
          else default.getOrElse(throw new LoweringException(
            s"model $name: missing argument for parameter '$pname'")))
        pname -> v
      }
      val body =
        if (bindings.isEmpty) lowerModel(m, ctx)
        else lower(m.body, ctx.copy(vals = ctx.vals.clone() ++= bindings))
      Plain(body.alias(name))

    case PipeInput =>
      throw new LoweringException(
        "partial-query input placeholder outside an application context")

    case PartialApply(child, name, args) =>
      ctx.partials.get(name.toLowerCase) match {
        case Some(p) =>
          if (args.length != p.params.length)
            throw new LoweringException(
              s"partial query $name expects ${p.params.length} argument(s), got ${args.length}")
          assertNoCycle(name.toLowerCase,
            ctx.partials.view.mapValues(_.body).toMap, "partial query")
          val ctx2 =
            if (args.isEmpty) ctx
            else ctx.copy(vals = ctx.vals.clone() ++= p.params.zip(args))
          lowerRel(substPipeInput(p.body, child), ctx2)
        case None =>
          throw new LoweringException(s"unknown pipe operator or partial query: $name")
      }
    case FileScan(path) =>
      val base = readFile(path, ctx)
      // alias by file basename (sans extension) for qualified refs
      val baseName = path.split('/').last.takeWhile(_ != '.')
      Plain(if (baseName.nonEmpty && baseName.head.isLetter) base.alias(baseName) else base)
    case RawSql(sql) =>
      // sql"…" is Spark SQL first; if Spark's parser rejects the fragment,
      // retry once through the dialect shim (DuckDB bare-bracket arrays,
      // MAP{…} literals, typed literals — duckdb/array_value.wv etc.)
      Plain(
        try ctx.spark.sql(sql)
        catch {
          case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            val translated = graft.SqlDialect.normalizeRawFragment(sql)
            if (translated == sql) throw e
            else ctx.spark.sql(translated)
        })
    case RawJson(json) =>
      // schema inferred from the literal on the driver (a local relation, so
      // compiling the query runs no schema-inference job)
      val spark = ctx.spark
      import spark.implicits._
      val one = Seq(json).toDF("json")
      val parsed = DataType.fromDDL(
        one.select(F.schema_of_json(F.lit(json))).head().getString(0)) match {
        case t @ ArrayType(_: StructType, _) =>
          one.select(F.explode(F.from_json(F.col("json"), t)).as("r")).select("r.*")
        case t: StructType => one.select(F.from_json(F.col("json"), t).as("r")).select("r.*")
        case _ => spark.read.json(Seq(json).toDS())
      }
      Plain(parsed)
    case EmptyRelation => Plain(ctx.spark.range(1).toDF("__dummy"))
    case v: Values => Plain(lowerValues(v, ctx))
    case u: UnnestRel => Plain(lowerUnnest(u, ctx))

    case AliasedRelation(child, alias, cols) =>
      val df = lower(child, ctx)
      val renamed = if (cols.nonEmpty) df.toDF(cols: _*) else df
      Plain(renamed.alias(alias))

    case sub @ SubscribeRel(child, params) =>
      // One lowering for the batch full refresh (the reference's
      // non-incremental fallback) and the stream (lowerStreamingAgg puts the
      // readStream source in place of the child): the event-time column
      // normalized, the watermark on a stream (a batch plan has none), and
      // dedup-on-ingest — a stream keeps a key's first row within the
      // watermark horizon, a batch one row per key.
      val pmap = params.toMap
      subscriptionGrouping(pmap) match {
        case Some(Sessioned(_, keys)) =>
          // unaggregated, a sessionized subscription is one row per session
          lowerRel(Agg(GroupBy(sub, keys.map(k => SelectItem(Ident(k), None))),
            List(SelectItem(DotRef(Underscore, "count"), Some("n_events")))), ctx)
        case grouping =>
          val df = ctx.streamingSub.getOrElse(lower(child, ctx))
          def column(c: String, what: String): String =
            df.columns.find(_.equalsIgnoreCase(c)).getOrElse(throw new LoweringException(
              s"subscribe: $what '$c' is not a column of the subscribed relation"))
          val ts = pmap.get("watermark_column").map(column(_, "watermark column"))
          val dedupKeys = pmap.get("dedup_keys")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
            .map(column(_, "dedup key"))
          ctx.subscriptions += ((pmap.get("watermark_column"), pmap))
          val normalized = ts.fold(df)(graft.functions.EpochTime.normalizeTs(df, _))
          val watermarked = ts match {
            case Some(c) if df.isStreaming =>
              normalized.withWatermark(c, graft.streaming.Subscribe.duration(
                pmap.getOrElse("watermark_delay", "10 minutes")))
            case _ => normalized
          }
          val deduped =
            if (dedupKeys.isEmpty) watermarked
            else if (!df.isStreaming) watermarked.dropDuplicates(dedupKeys)
            else if (ts.isEmpty)
              throw new LoweringException("subscribe: dedup_keys requires watermark_column")
            else watermarked.dropDuplicatesWithinWatermark(dedupKeys.head, dedupKeys.tail: _*)
          Plain(grouping match {
            case Some(Windowed(size, slide @ Some(_))) =>
              // hopping: one row per containing window
              deduped.withColumn("window_start_ms", graft.functions.EpochTime.unixMillis(
                graft.streaming.Subscribe.window(F.col(ts.get), size, slide).getField("start")))
            case _ => deduped
          })
      }
    case CallToolRel(connector, tool, args) =>
      // 1-row invocation summary (reference relation.scala:1182-1205):
      // the tool runs ONCE on the driver at lowering time; the result is a
      // literal-backed single-row plan, so downstream operators compose
      // without distributing the invocation
      val argMap = args.map { case (n, e) =>
        n -> constValue(e).getOrElse(
          try ctx.spark.range(1)
            .select(expr(e, ExprCtx(ctx, aggMode = false)).as("v")).collect().head.get(0)
          catch {
            case _: Throwable =>
              throw new LoweringException(
                s"call $connector.$tool: argument '$n' must be a constant expression")
          })
      }.toMap
      val (status, content) = graft.tools.ToolRegistry.invoke(connector, tool, argMap)
      Plain(ctx.spark.range(1).select(
        F.lit(connector).as("connector"), F.lit(tool).as("tool"),
        F.lit(status).as("status"), F.lit(content).as("content")))

    case BracedRelation(child) => lowerRel(child, ctx)

    case SelectAsNamed(child, name) =>
      // name the intermediate result: later `from name` reads the same
      // relation (registered like a zero-arg model)
      val m = ModelDef(name, Nil, child)
      ctx.models(name) = m
      Plain(lowerModel(m, ctx).alias(name))

    case SelectAsNamedDyn(child, interp) =>
      lowerRel(SelectAsNamed(child, resolveInterpName(interp, ctx)), ctx)
    case TableRefDyn(interp) =>
      lowerRel(TableRef(resolveInterpName(interp, ctx)), ctx)

    case Filter(child, cond) => filterOn(lowerRel(child, ctx), cond, ctx)

    case GroupBy(Pivot(pchild, pivotCol, values, None), keys) =>
      // pivot followed by an explicit group-by: the pivot's grouping keys
      // and aggregate come from the FOLLOWING group-by/agg stages
      // (reference: pivot-order.wv)
      Grouped(lower(pchild, ctx), keys, Nil, GroupingStyle.Plain,
        pivot = Some((pivotCol, values.map(v => constValue(v).getOrElse(
          throw new LoweringException("pivot values must be literals"))))))
    case GroupBy(child, keys) =>
      groupedSubscription(child) match {
        case Some((sub, withSub)) =>
          // Incrementalize semantics (reference Incrementalize.scala:27-107):
          // a group-by over a windowed or sessionized subscription groups by
          // the window or session too, built the same way for the batch
          // refresh and the stream. The subscription lowers without the
          // window or session parameters this group-by consumes.
          val pmap = sub.params.toMap
          val stripped = sub.copy(params = sub.params.filterNot(p => groupingParams(p._1)))
          val lowered = lower(withSub(stripped), ctx)
          // the site is recorded with the parameters this group-by consumed
          val wm = pmap.get("watermark_column")
          ctx.subscriptions(ctx.subscriptions.lastIndexOf((wm, stripped.params.toMap))) = (wm, pmap)
          val grouping = subscriptionGrouping(pmap).get
          val prefix = if (grouping.isInstanceOf[Windowed]) "window" else "session"
          val ts = lowered.columns.find(_.equalsIgnoreCase(wm.get)).getOrElse(
            throw new LoweringException(
              s"group by over a subscription: watermark column '${wm.get}' was dropped by " +
                s"an intervening operator — the ${prefix}_start_ms/${prefix}_end_ms keys " +
                "are derived from it, keep it in the projection"))
          grouping match {
            case Windowed(size, slide) =>
              Grouped(lowered, keys, Nil, GroupingStyle.Plain, window = Some(WindowKey(
                graft.streaming.Subscribe.window(F.col(ts), size, slide), prefix, 0L)))
            case Sessioned(gapMs, sessKeys) =>
              // the group keys must be exactly the session keys: a coarser
              // set would merge distinct keys' sessions, a finer one split them
              val bare = keys.map(_.expr match {
                case Ident(n) => n.toLowerCase
                case other => throw new LoweringException(
                  s"group by over a sessionized subscription supports bare session-key columns, got $other")
              })
              if (bare.toSet != sessKeys.map(_.toLowerCase).toSet)
                throw new LoweringException(
                  s"group by over a sessionized subscription must group by exactly its " +
                    s"session_keys (${sessKeys.mkString(", ")}); got (${bare.mkString(", ")})")
              // Sessions are cut on ms-floored event time, as the epoch-ms
              // oracles cut them. The floored column keeps the column's
              // metadata, so on a stream the session key stays watermarked.
              // session_window joins an event when t < last + gap; a gap of
              // gap + 1 ms makes that t - last <= gap on whole ms, and the
              // session's end is then its last event's ms.
              val floored = lowered.withColumn(ts,
                F.timestamp_millis(graft.functions.EpochTime.epochMs(F.col(ts)))
                  .as(ts, lowered.schema(ts).metadata))
              Grouped(floored, keys, Nil, GroupingStyle.Plain, window = Some(WindowKey(
                F.session_window(F.col(ts), s"${gapMs + 1} milliseconds"), prefix, gapMs + 1)))
          }
        case None => Grouped(lower(child, ctx), keys, Nil, GroupingStyle.Plain)
      }
    case GroupByStyled(child, keys, style) =>
      Grouped(lower(child, ctx), keys, Nil, style)

    case Agg(child, items0) => aggOn(lowerRel(child, ctx), items0, ctx)
    case Project(child, items0, distinct) => projectOn(lowerRel(child, ctx), items0, distinct, ctx)

    case AddColumns(child, items, prepend) =>
      val df = lower(child, ctx)
      val ectx = ExprCtx(ctx, aggMode = false, dfOpt = Some(df))
      val newCols = items.zipWithIndex.map { case (it, i) =>
        expr(it.expr, ectx).as(itemName(it, i))
      }
      // existing columns by ATTRIBUTE, not by name: after a multi-join the
      // frame can carry duplicate names (customers.id, products.id —
      // spec/benchmark/q2-join-derived.wv) and F.col("id") would be
      // ambiguous where the positional attribute list is not
      val existing = df.queryExecution.analyzed.output
        .map(org.apache.spark.sql.graftbridge.ColumnBridge.column(_)).toList
      Plain(
        if (prepend) df.select(newCols ++ existing: _*)
        else df.select(existing ++ newCols: _*)
      )

    case TransformColumns(child, items) =>
      var df = lower(child, ctx)
      val ectx = ExprCtx(ctx, aggMode = false, dfOpt = Some(df))
      items.zipWithIndex.foreach { case (it, i) =>
        df = df.withColumn(itemName(it, i), expr(it.expr, ectx))
      }
      Plain(df)

    case ExcludeColumns(child, cols) =>
      Plain(lower(child, ctx).drop(cols: _*))

    case RenameColumns(child, renames) =>
      Plain(lower(child, ctx).withColumnsRenamed(renames.toMap))

    case ShiftColumns(child, cols, toLeft) =>
      val df = lower(child, ctx)
      val shifted = cols.map(c => df.columns.find(_.equalsIgnoreCase(c)).getOrElse(c))
      val rest = df.columns.filterNot(c => shifted.exists(_.equalsIgnoreCase(c))).toList
      val order = if (toLeft) shifted ++ rest else rest ++ shifted
      Plain(df.select(order.map(F.col): _*))

    case Sort(child, items) =>
      val df = lower(child, ctx)
      Plain(df.orderBy(items.map(si => sortCol(si, df, ctx)): _*))

    case Limit(child, n) => Plain(lower(child, ctx).limit(n.toInt))
    case Offset(child, n) =>
      child match {
        // SQL semantics (reference SqlGenerator.scala:431-433): OFFSET applies
        // before LIMIT regardless of pipe order — `limit 20 offset 10` means
        // skip 10, take 20.
        case Limit(inner, ln) => Plain(lower(inner, ctx).offset(n.toInt).limit(ln.toInt))
        case _ => Plain(lower(child, ctx).offset(n.toInt))
      }

    case CountRel(child) =>
      lowerRel(child, ctx) match {
        case g: Grouped =>
          // count the number of groups — havings stay: `group by k where
          // _.count > 5 | count` counts only the groups passing the filter
          // (aggregate() computes and applies them; dropping them here
          // diverged from the SQL generator's HAVING-preserving block)
          val keysDf = aggregate(g, Nil, Nil, ctx)
          Plain(keysDf.agg(F.count(F.lit(1)).as("count")))
        case Plain(df) => Plain(df.agg(F.count(F.lit(1)).as("count")))
      }

    case DedupRel(child) => Plain(lower(child, ctx).dropDuplicates())

    case SampleRel(child, method, isPercent, size) =>
      val df = lower(child, ctx)
      Plain {
        if (isPercent) df.sample(withReplacement = false, size / 100.0, seed = 42L)
        else {
          // fixed-n reservoir (reference Sample, relation.scala): global
          // top-n by a seeded md5 of the full row — a true deterministic
          // reservoir: every row's key is uniform and independent of input
          // order/partitioning, and md5 is bit-identical across engines
          // (unlike rand(seed), which is engine-private), so the sample is
          // reproducible AND oracle-checkable. Catalyst plans
          // TakeOrderedAndProject: per-partition size-n heaps, one final
          // merge — the per-partition-top-k-then-global-k shape, no full
          // sort/shuffle at 100 TB.
          val n = size.toInt
          // Keying cost note: the md5 key (~1 cast per column + concat +
          // hash per row) parallelizes at parquet ROW-GROUP granularity; a
          // single-row-group file (the sf0.1 bench input) pins the keying
          // scan to one core (~2.5 s / 600k rows). Repartitioning first was
          // measured SLOWER (full-row shuffle > single-core md5), so the
          // plan stays shuffle-free; at scale, many row groups → the keying
          // scan parallelizes naturally and TakeOrderedAndProject keeps the
          // per-partition-heap + single-merge shape.
          val key = F.md5(F.concat_ws("|",
            (F.lit("graft-reservoir") +:
              df.columns.toSeq.map(c => F.col(c).cast("string"))): _*))
          df.orderBy(key).limit(n)
        }
      }

    case j: Join => Plain(lowerJoin(j, ctx))

    case SetOp(kind, left, right, distinct) =>
      val l = lower(left, ctx)
      val r = lower(right, ctx)
      Plain(kind match {
        case SetOpKind.Concat => l.union(r)
        case SetOpKind.Union => l.union(r).distinct()
        case SetOpKind.Intersect => if (distinct) l.intersect(r) else l.intersectAll(r)
        case SetOpKind.Except => if (distinct) l.except(r) else l.exceptAll(r)
      })

    case Pivot(child, pivotCol, values, agg) =>
      val df = lower(child, ctx)
      val aggCol = agg match {
        case Some(it) => expr(it.expr, ExprCtx(ctx, aggMode = true)).as(it.alias.getOrElse("value"))
        case None => F.count(F.lit(1)).as("count")
      }
      val aggSourceCols: Seq[String] = agg.toList.flatMap(it => columnRefs(it.expr))
      val groupCols = df.columns.filterNot(c =>
        c.equalsIgnoreCase(pivotCol) || aggSourceCols.exists(_.equalsIgnoreCase(c)))
      val gb = df.groupBy(groupCols.map(F.col): _*)
      val pv =
        if (values.nonEmpty)
          gb.pivot(pivotCol, values.map(v => constValue(v).getOrElse(
            throw new LoweringException("pivot values must be literals"))))
        else gb.pivot(pivotCol)
      var out = pv.agg(aggCol)
      if (agg.isEmpty) {
        // count pivot: absent combinations are 0, not null (DuckDB PIVOT parity)
        val pivoted = out.columns.filterNot(c => groupCols.exists(_.equalsIgnoreCase(c)))
        out = out.na.fill(0L, pivoted)
      }
      Plain(out)

    case Unpivot(child, valueCol, varCol, cols) =>
      val df = lower(child, ctx)
      val ids = df.columns.filterNot(c => cols.exists(_.equalsIgnoreCase(c)))
      Plain(df.unpivot(ids.map(F.col), cols.map(F.col).toArray, varCol, valueCol))

    case LateralUnnest(child, e, alias, cols, withOrd) =>
      val df = lower(child, ctx)
      val ectx = ExprCtx(ctx, aggMode = false, dfOpt = Some(df))
      val arr = expr(e, ectx)
      val outName = cols.headOption.orElse(alias).getOrElse(exprName(e, 0))
      Plain(
        if (withOrd) {
          // 1-based ordinals (SQL-standard WITH ORDINALITY; posexplode's
          // pos is 0-based), matching the table-form unnest at lowerUnnest
          val exploded = df.select(F.col("*"), F.posexplode(arr))
          exploded.select(
            df.columns.map(F.col) :+
              (F.col("pos") + 1).as(s"${outName}_ordinal") :+
              F.col("col").as(outName): _*)
        } else df.select(F.col("*"), F.explode(arr).as(outName))
      )

    case ExplainRel(child0) =>
      // `''` inside a triple-quoted sql""" block is the reference's escape
      // for a literal quote (spec/basic/explain-sql.wv embeds
      // `like ''%x%''`); unescape before handing the text to Spark's parser
      val child = child0 match {
        case RawSql(sql) if !sql.contains("'''") => RawSql(sql.replace("''", "'"))
        case other => other
      }
      val df = lower(child, ctx)
      import ctx.spark.implicits._
      Plain(Seq(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExtendedMode)).toDF("plan"))

    case DescribeRel(child) =>
      val df = lower(child, ctx)
      val rows = df.schema.fields.map(f => (f.name, wvTypeName(f.dataType))).toSeq
      import ctx.spark.implicits._
      Plain(rows.toDF("column_name", "column_type"))

    case TestRel(child, assertion) =>
      val df = lower(child, ctx)
      ctx.tests += ((df, assertion))
      Plain(df)

    case RunFlow(name, args) =>
      val fd = ctx.flows.getOrElse(name,
        throw new LoweringException(s"unknown flow: $name"))
      Plain(FlowRunner.run(fd, args, ctx))

    case RouteRel(child, _, _) =>
      // pass-through for the routing stage itself; consumers get the filtered
      // view (FlowRunner.routeFilter)
      lowerRel(child, ctx)

    case ForkRel(child, _) =>
      // declarative fork marker — branches are side tasks (parse-level
      // parity; the reference's flow-syntax spec is itself design-only)
      lowerRel(child, ctx)

    case OrchOp(child, kind, args) =>
      kind match {
        case "wait" =>
          // orchestration delay, honored at plan time (flow stages lower
          // inside their executor task, so the wait delays the stage)
          val ms = args.headOption.flatMap(constValue) match {
            case Some(s: String) => parseDurationMs(s)
            case Some(n: Long) => n
            case _ => 0L
          }
          if (ms > 0) Thread.sleep(ms)
          lowerRel(child, ctx)
        case "activate" =>
          val channel = args.headOption.flatMap(constValue).getOrElse("?")
          System.err.println(s"[flow] activate($channel)")
          lowerRel(child, ctx)
        case "wait_until" =>
          // sensor: poll the condition until true or timeout (reference:
          // FlowScheduler wait-until sensors — driver-side control flow by
          // design, like the reference's poll loop). The condition is a
          // scalar boolean, re-evaluated on every poll, so
          // `wait until (from t agg _.count) > 0` polls live state.
          val cond = args.headOption.getOrElse(
            throw new LoweringException("wait until requires a condition"))
          val timeoutMs = args.lift(1).flatMap(constValue) match {
            case Some(s: String) => parseDurationMs(s)
            case Some(n: Long) => n
            case _ => 60000L
          }
          val pollMs = math.max(10L, math.min(1000L, timeoutMs / 20))
          val deadline = System.currentTimeMillis() + timeoutMs
          var ok = false
          while (!ok && System.currentTimeMillis() < deadline) {
            val v = ctx.spark.range(1).select(
              expr(cond, ExprCtx(ctx, aggMode = false)).cast("boolean").as("__c")).collect().head
            ok = !v.isNullAt(0) && v.getBoolean(0)
            if (!ok) Thread.sleep(pollMs)
          }
          if (!ok)
            throw new LoweringException(s"wait until: condition not met within ${timeoutMs}ms")
          lowerRel(child, ctx)
        case "jump" =>
          // `-> OtherFlow`: record the target AFTER the child lowers
          // successfully; FlowRunner triggers it as a NEW run after the
          // current flow completes (control transfer only — the child's
          // rows pass through)
          val lowered = lowerRel(child, ctx)
          args.headOption.flatMap(constValue) match {
            case Some(target: String) =>
              // stages lower on pool threads — guard the shared buffer
              ctx.jumps.synchronized { ctx.jumps += ((ctx.stageName, target)) }
            case _ => ()
          }
          lowered
        case _ => lowerRel(child, ctx) // end(): terminal marker
      }

    case SaveRel(child, target, append) =>
      val df = lower(child, ctx)
      val w = df.write.mode(if (append) "append" else "overwrite")
      if (isPathTarget(target)) {
        val path = resolveTargetPath(target, ctx)
        writeByExtension(w, target, path)
      } else saveAsTableResilient(w, target, append, ctx)
      Plain(df)

    case DebugRel(child, body) =>
      // execute the debug branch eagerly as a side task, printing a bounded
      // sample to stderr (honest semantics: the reference runs the branch)
      val bdf = lower(body, ctx)
      ctx.debugs += bdf
      lowerRel(child, ctx)
  }

  private def resolveTable(name: String, ctx: Context): DataFrame =
    if (name.startsWith("__show_")) lowerShow(name.stripPrefix("__show_"), ctx)
    // a corpus argument that is really a file path (table functions take
    // 'corpus' strings: similarity_topk('/tmp/idx.parquet', …)) dispatches
    // through the same extension reader as `from 'file.parquet'` — but only
    // unconditionally when it contains a path separator: a bare name with a
    // data-file extension (a table or model literally named 'events.csv')
    // must still resolve through the catalog first, falling back to the
    // file reader only when no binding/table of that name exists.
    else {
      val looksLikeFile = name.matches("(?i).*\\.(parquet|orc|csv|json|txt|text)(\\.gz)?$")
      if (looksLikeFile && (name.contains("/") || name.contains("\\")))
        readFile(name, ctx)
      else {
        val resolved = ctx.typeBindings.getOrElse(name, name)
        try ctx.tableResolver(resolved)
        catch {
          case e: Throwable =>
            // fall back to the session catalog (saved tables, temp views),
            // then to the `use`d schema prefix for unqualified names,
            // then — for extension-bearing names — the file reader
            try ctx.spark.table(resolved)
            catch {
              case _: Throwable =>
                ctx.currentSchema.get("schema")
                  .filter(_ => !resolved.contains("."))
                  .flatMap { s =>
                    try Some(ctx.spark.table(s"$s.$resolved"))
                    catch { case _: Throwable => None }
                  }
                  .getOrElse {
                    if (looksLikeFile) readFile(name, ctx) else throw e
                  }
            }
        }
      }
    }

  private def lowerShow(what0: String, ctx: Context): DataFrame = {
    // optional `like 'pattern'` filter over the listing's name column
    // (reference: Show.likePattern, relation.scala:1227)
    val (what, likePat) = what0.split("\\?like=", 2) match {
      case Array(w, p) => (w, Some(p))
      case _ => (what0, None)
    }
    def likeFilter(df: DataFrame, col: String = "name"): DataFrame =
      likePat.map(p => df.filter(F.col(col).like(p))).getOrElse(df)
    likeFilter(lowerShowBase(what, ctx))
  }

  private def lowerShowBase(what: String, ctx: Context): DataFrame = {
    import ctx.spark.implicits._
    // column shapes follow the reference's Show relation types
    // (relation.scala:1228-1296)
    what.toLowerCase match {
      case cv if cv.startsWith("create:") =>
        // show create view/table → Spark's SHOW CREATE TABLE text
        val name = cv.stripPrefix("create:")
        ctx.spark.sql(s"SHOW CREATE TABLE $name")
          .toDF("create_statement")
      case "tables" =>
        ctx.spark.catalog.listTables().select("name")
      case t if t.startsWith("tables:") =>
        // memory.main is the reference's in-memory default catalog.schema;
        // it aliases to the session default database here (see wv_tables)
        val schema = t.stripPrefix("tables:").split('.').last match {
          case "main" => "default"
          case s => s
        }
        try ctx.spark.catalog.listTables(schema).select("name")
        catch { case _: Throwable => Seq.empty[String].toDF("name") }
      case c if c.startsWith("columns:") =>
        val table = c.stripPrefix("columns:")
        val df = resolveTable(table, ctx)
        df.schema.fields.toSeq
          .map(f => (f.name, f.dataType.simpleString, f.nullable, null: String))
          .toDF("column_name", "data_type", "is_nullable", "column_default")
      case q if q.startsWith("query:") =>
        val name = q.stripPrefix("query:")
        val m = ctx.models.getOrElse(name,
          throw new LoweringException(s"unknown model: $name"))
        Seq((name, m.body.toString)).toDF("name", "query")
      case "flow_runs" =>
        // persisted attempt history (flow/FlowRunStore — survives driver
        // restarts), newest first, stage results flattened to one summary
        // string per run
        graft.flow.FlowRunStore.forSession(ctx.spark).list()
          .map { r =>
            (r.runId, r.flowName, r.state, r.startedAtMillis,
              r.runTimeMillis.getOrElse(-1L),
              r.stages.map(s => s"${s.name}:${s.status}:${s.attempts}").mkString(","))
          }
          .toDF("run_id", "flow", "state", "started_at_ms", "run_time_ms", "stages")
      case "schemas" | "databases" =>
        ctx.spark.catalog.listDatabases()
          .select(F.col("catalog"), F.col("name"))
      case "catalogs" =>
        ctx.spark.catalog.listCatalogs().select("name")
      case "models" =>
        ctx.models.toSeq.sortBy(_._1)
          .map { case (n, m) =>
            (n,
              if (m.paramSig.nonEmpty) m.paramSig else m.params.map(_._1).mkString(", "),
              if (m.doc.nonEmpty) m.doc else null,
              null: String)
          }
          .toDF("name", "args", "description", "package_name")
      case "functions" =>
        // registry builtins + user defs + partials (info-schema style;
        // reference SG:718-1080 synthesizes the same union)
        val builtin = ctx.spark.catalog.listFunctions()
          .select(F.col("name"), F.lit("builtin").as("function_type"))
        val user = (ctx.funcs.keys.map((_, "def")).toSeq ++
          ctx.partials.keys.map((_, "partial")).toSeq).sortBy(_._1)
          .toDF("name", "function_type")
        builtin.union(user)
      case other => throw new LoweringException(s"unsupported show target: $other")
    }
  }

  private def readFile(path: String, ctx: Context): DataFrame = {
    val resolved =
      if (path.startsWith("/") || ctx.basePath.isEmpty) path
      else s"${ctx.basePath.stripSuffix("/")}/$path"
    val spark = ctx.spark
    val lower = resolved.toLowerCase
    if (lower.endsWith(".parquet")) spark.read.parquet(resolved)
    else if (lower.endsWith(".orc")) spark.read.orc(resolved)
    else if (lower.endsWith(".txt") || lower.endsWith(".txt.gz") ||
        lower.endsWith(".text"))
      // raw text corpus: one row per line, column `value` — the ingestion
      // shape LLM-pipeline text operators (text_quality, langid, dedup)
      // consume directly; gz decompression is codec-automatic
      spark.read.text(resolved)
    else if (lower.endsWith(".csv") || lower.endsWith(".csv.gz"))
      // gz decompression is codec-automatic, same as .txt.gz/.json.gz
      spark.read.option("header", "true").option("inferSchema", "true").csv(resolved)
    else if (lower.endsWith(".json") || lower.endsWith(".json.gz"))
      readJsonAnyShape(spark, resolved)
    else if (lower.endsWith(".wv")) {
      val src = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(resolved)),
        java.nio.charset.StandardCharsets.UTF_8)
      lower2(src, ctx)
    } else spark.read.parquet(resolved)
  }

  /** JSON comes in two shapes: line-delimited (Spark's own sink, logs) and
    * pretty/multi-line single documents (config-style files, the shape the
    * reference's DuckDB read_json handles). Spark's reader must be told
    * which: multiLine=true silently reads ONLY the first object of a JSONL
    * file, and the default JSONL mode marks a pretty file entirely
    * `_corrupt_record`. Probe with the cheap default mode first — the
    * corrupt-record column (schema-only check, no job) detects the pretty
    * shape, which then rereads with multiLine. */
  private def readJsonAnyShape(spark: SparkSession, resolved: String): DataFrame = {
    val lineMode = spark.read.json(resolved)
    val df =
      if (lineMode.columns.contains("_corrupt_record") || lineMode.columns.isEmpty)
        spark.read.option("multiLine", "true").json(resolved)
      else lineMode
    reorderJsonColumns(df, resolved)
  }

  /** Spark's JSON schema inference SORTS field names; engines that stream
    * JSON (DuckDB, the reference) preserve the file's field order. Recover
    * the order of the first object's keys (Jackson streaming over the first
    * bytes) and reorder the columns to match. */
  private def reorderJsonColumns(df: DataFrame, path: String): DataFrame =
    try {
      // a Spark-written JSON sink is a DIRECTORY of part files — recover
      // key order from the first part (all parts share the writer's schema)
      val f0 = new java.io.File(path)
      val src =
        if (f0.isDirectory)
          Option(f0.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.startsWith("part-"))
            .sortBy(_.getName).headOption.map(_.getPath).getOrElse(path)
        else path
      val raw = new java.io.FileInputStream(src)
      val in =
        if (src.toLowerCase.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
        else raw
      try {
        val parser = new com.fasterxml.jackson.core.JsonFactory().createParser(in)
        import com.fasterxml.jackson.core.JsonToken._
        val names = List.newBuilder[String]
        var depth = 0
        var done = false
        while (!done) {
          val t = parser.nextToken()
          if (t == null) done = true
          else t match {
            case START_OBJECT => depth += 1
            case END_OBJECT => depth -= 1; if (depth == 0) done = true
            case FIELD_NAME if depth == 1 => names += parser.currentName()
            case _ => ()
          }
        }
        val order = names.result().filter(n => df.columns.contains(n))
        val rest = df.columns.filterNot(order.contains).toList
        if (order.isEmpty) df else df.select((order ++ rest).map(F.col): _*)
      } finally in.close()
    } catch { case _: Throwable => df }

  private def lower2(src: String, ctx: Context): DataFrame = {
    val stmts = Parser.parseStatements(src)
    lowerStatements(stmts, ctx).getOrElse(
      throw new LoweringException("included file has no query"))
  }

  private def lowerValues(v: Values, ctx: Context): DataFrame = {
    // zero-row values with declared columns still carry the schema
    val nCols = math.max(v.rows.map(_.length).maxOption.getOrElse(0), v.columns.length)
    val colNames =
      if (v.columns.nonEmpty) v.columns
      else (1 to nCols).map(i => s"c$i").toList
    // evaluate each literal cell; a deterministic column-free expression
    // (cast('2023-01-01' as date), typed decimal…) folds driver-side over a
    // 1-row plan — values literals are small by construction
    def evalCell(e: Expr): Any = {
      val v =
        try ctx.spark.range(1)
          .select(expr(e, ExprCtx(ctx, aggMode = false)).as("v")).collect().head.get(0)
        catch {
          case _: Throwable =>
            throw new LoweringException(s"values cell must be constant: $e")
        }
      // normalize narrow numerics so the inference below sees Long/Double
      // (a `cast(5 as int)` cell otherwise fell through to StringType)
      v match {
        case i: Int => i.toLong
        case i: Short => i.toLong
        case i: Byte => i.toLong
        case f: Float => f.toDouble
        case other => other
      }
    }
    val cells: List[List[Any]] = v.rows.map(_.map(e =>
      constValue(e).getOrElse(evalCell(e))))
    // per-column type inference with numeric widening
    val types: Seq[DataType] = (0 until nCols).map { i =>
      val vs = cells.flatMap(row => row.lift(i)).filter(_ != null)
      if (vs.isEmpty) StringType
      else if (vs.forall(_.isInstanceOf[Long]))
        LongType
      else if (vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double]))
        DoubleType
      else if (vs.forall(_.isInstanceOf[Boolean])) BooleanType
      else if (vs.forall(_.isInstanceOf[java.sql.Date])) DateType
      else if (vs.forall(_.isInstanceOf[java.sql.Timestamp])) TimestampType
      else if (vs.forall(v => v.isInstanceOf[java.math.BigDecimal] ||
          v.isInstanceOf[Long])) {
        // decimal cells widen integer siblings (SQL VALUES (1),(1.5) is
        // decimal(11,1)); an all-Long column never reaches this branch
        val ds = vs.map {
          case d: java.math.BigDecimal => d
          case l: Long => java.math.BigDecimal.valueOf(l)
        }
        val scale = ds.map(_.scale).max
        val prec = ds.map(d => d.precision - d.scale).max + scale
        DecimalType(math.min(38, math.max(prec, 1)), scale)
      }
      else if (vs.forall(v => v.isInstanceOf[java.math.BigDecimal] ||
          v.isInstanceOf[Long] || v.isInstanceOf[Double]))
        DoubleType
      else if (vs.forall(_.isInstanceOf[Seq[_]])) {
        val elems = vs.flatMap(_.asInstanceOf[Seq[Any]]).filter(_ != null)
        val et =
          if (elems.nonEmpty && elems.forall(_.isInstanceOf[Long])) LongType
          else if (elems.nonEmpty &&
            elems.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double])) DoubleType
          else StringType
        ArrayType(et, containsNull = true)
      } else StringType
    }
    val schema = StructType(colNames.zip(types).map { case (n, t) => StructField(n, t, true) })
    val rows = cells.map { row =>
      org.apache.spark.sql.Row.fromSeq((0 until nCols).map { i =>
        val raw = row.lift(i).orNull
        (raw, types(i)) match {
          case (null, _) => null
          case (v: Long, DoubleType) => v.toDouble
          case (v: java.math.BigDecimal, DoubleType) => v.doubleValue
          case (v: Long, t: DecimalType) =>
            java.math.BigDecimal.valueOf(v).setScale(t.scale)
          case (v: java.math.BigDecimal, t: DecimalType) => v.setScale(t.scale)
          case (v, StringType) if !v.isInstanceOf[String] => v.toString
          case (v: Seq[_], ArrayType(DoubleType, _)) =>
            v.map { case x: Long => x.toDouble; case x: Double => x; case x => x }
          case (v: Seq[_], ArrayType(StringType, _)) =>
            v.map(x => if (x == null) null else x.toString)
          case (v, _) => v
        }
      })
    }
    val df = ctx.spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    v.alias.map(a => df.alias(a)).getOrElse(df)
  }

  private def lowerUnnest(u: UnnestRel, ctx: Context): DataFrame = {
    val spark = ctx.spark
    val name = u.columns.headOption.orElse(u.alias).getOrElse("value")
    u.expr match {
      case NullLit() | ArrayLit(Nil) =>
        spark.range(0).select(F.lit(null).cast("int").as(name))
      case e =>
        val arr = expr(e, ExprCtx(ctx, aggMode = false))
        val base = spark.range(1)
        if (u.withOrdinality)
          base.select(F.posexplode(arr)).toDF(s"${name}_ordinal", name)
            .select(F.col(name), (F.col(s"${name}_ordinal") + 1).as(s"${name}_ordinal"))
        else base.select(F.explode(arr).as(name))
    }
  }

  // --- joins -----------------------------------------------------------------
  private def lowerJoin(j: Join, ctx: Context): DataFrame = {
    val l = lower(j.left, ctx)
    if (j.lateral) {
      // the right side may reference the left's columns (reference: Lateral,
      // relation.scala:1046-1051); Catalyst decorrelates the lateral subquery
      val r = subqueryFrame(j.right, ExprCtx(ctx, aggMode = false, dfOpt = Some(l)),
        duplicatesHarmless = false)
      return j.on.fold(l.lateralJoin(r, j.kind.sparkName))(cond =>
        l.lateralJoin(r, expr(cond, ExprCtx(ctx, aggMode = false, enclosing = l.columns.toSeq)),
          j.kind.sparkName))
    }
    val r = lower(j.right, ctx)
    if (j.asof) return lowerAsofJoin(l, r, j, ctx)
    val ectx = ExprCtx(ctx, aggMode = false, enclosing = (l.columns ++ r.columns).toSeq)
    j.kind match {
      case JoinKind.Cross if j.on.isEmpty && j.usingColumns.isEmpty => l.crossJoin(r)
      case k =>
        if (j.natural) {
          // natural join: implicit USING over the commonly-named columns
          // (reference: exprs.scala:222-254)
          val rCols = r.columns.map(_.toLowerCase).toSet
          val common = l.columns.filter(c => rCols.contains(c.toLowerCase)).toList
          if (common.isEmpty)
            throw new LoweringException("natural join: no common column names")
          l.join(r, common, k.sparkName)
        } else if (j.usingColumns.nonEmpty) l.join(r, j.usingColumns, k.sparkName)
        else
          j.on match {
            // Spark takes a correlated subquery in a filter but not in a join
            // condition; for an inner join the two are the same
            case Some(cond) if hasSubquery(cond) && (k == JoinKind.Inner || k == JoinKind.Cross) =>
              l.join(r).filter(expr(cond, ectx))
            case Some(cond) => l.join(r, expr(cond, ectx), k.sparkName)
            case None => l.crossJoin(r)
          }
    }
  }

  /** asof join (reference: relation.scala:817-880, spec/basic/join-asof.wv):
    * for each left row, pick the single right row with the greatest (for `<=`)
    * inequality-key not exceeding the left key among equal equi-keys.
    * Delegates to the scalable union+window implementation in
    * [[graft.operators.AsOfJoin]] — one shuffle, no row explosion.
    */
  private def lowerAsofJoin(l: DataFrame, r: DataFrame, j: Join, ctx: Context): DataFrame = {
    val cond = j.on.getOrElse(throw new LoweringException("asof join requires on-condition"))
    val conjuncts = splitConjuncts(cond)
    var eqKeys = List.empty[(String, String)] // (leftCol, rightCol)
    var ineq: Option[(String, String, String)] = None // (leftCol, op, rightCol)

    def sideOf(e: Expr): Option[(String, String)] = e match {
      case DotRef(Ident(q), c) => Some((q, c))
      case Ident(c) => Some(("", c))
      case _ => None
    }
    // determine which qualifier belongs to the left plan by probing its columns
    def isLeftCol(q: String, c: String): Boolean =
      try { l(s"${if (q.nonEmpty) q + "." else ""}$c"); true }
      catch { case _: Throwable => false }

    conjuncts.foreach {
      case BinaryOp(op, a, b) =>
        (sideOf(a), sideOf(b)) match {
          case (Some((qa, ca)), Some((qb, cb))) =>
            val aLeft = isLeftCol(qa, ca)
            op match {
              case "=" =>
                if (aLeft) eqKeys :+= ((ca, cb)) else eqKeys :+= ((cb, ca))
              case "<=" | "<" | ">=" | ">" =>
                // normalize to right-side op left-side: e.g. r.date <= l.date
                if (aLeft) ineq = Some((ca, flipOp(op), cb))
                else ineq = Some((cb, op, ca))
              case other => throw new LoweringException(s"unsupported asof condition op: $other")
            }
          case _ => throw new LoweringException("asof join conditions must be column comparisons")
        }
      case other => throw new LoweringException(s"unsupported asof condition: $other")
    }
    val (lKey, op, rKey) =
      ineq.getOrElse(throw new LoweringException("asof join needs an inequality condition"))
    // `asof join` is inner (DuckDB ASOF JOIN drops unmatched left rows);
    // `asof left join` keeps them with nulls.
    val keepUnmatched = j.kind match {
      case JoinKind.Inner => false
      case JoinKind.Left => true
      case other => throw new LoweringException(s"unsupported asof join kind: $other")
    }
    graft.operators.AsOfJoin.asofJoin(l, r, eqKeys, lKey, rKey, op, keepUnmatched)
  }

  private def flipOp(op: String): String = op match {
    case "<=" => ">="
    case "<" => ">"
    case ">=" => "<="
    case ">" => "<"
    case o => o
  }

  private def splitConjuncts(e: Expr): List[Expr] = e match {
    case BinaryOp("and", l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => List(other)
  }

  /** Replace the [[PipeInput]] leaf of a partial-query body with the piped-in
    * relation (reference: PartialQueryApply, relation.scala:405-418). */
  private def substPipeInput(r: Relation, input: Relation): Relation = {
    def go(x: Relation): Relation = x match {
      case PipeInput => input
      case u: AliasedRelation => u.copy(child = go(u.child))
      case u: BracedRelation => u.copy(child = go(u.child))
      case u: Filter => u.copy(child = go(u.child))
      case u: Project => u.copy(child = go(u.child))
      case u: GroupBy => u.copy(child = go(u.child))
      case u: GroupByStyled => u.copy(child = go(u.child))
      case u: Agg => u.copy(child = go(u.child))
      case u: AddColumns => u.copy(child = go(u.child))
      case u: TransformColumns => u.copy(child = go(u.child))
      case u: ExcludeColumns => u.copy(child = go(u.child))
      case u: RenameColumns => u.copy(child = go(u.child))
      case u: ShiftColumns => u.copy(child = go(u.child))
      case u: Sort => u.copy(child = go(u.child))
      case u: Limit => u.copy(child = go(u.child))
      case u: Offset => u.copy(child = go(u.child))
      case u: CountRel => u.copy(child = go(u.child))
      case u: DedupRel => u.copy(child = go(u.child))
      case u: SampleRel => u.copy(child = go(u.child))
      case u: Pivot => u.copy(child = go(u.child))
      case u: Unpivot => u.copy(child = go(u.child))
      case u: LateralUnnest => u.copy(child = go(u.child))
      case u: DescribeRel => u.copy(child = go(u.child))
      case u: ExplainRel => u.copy(child = go(u.child))
      case u: TestRel => u.copy(child = go(u.child))
      case u: DebugRel => u.copy(child = go(u.child), body = go(u.body))
      case u: PartialApply => u.copy(child = go(u.child))
      case u: SaveRel => u.copy(child = go(u.child))
      case u: SelectAsNamed => u.copy(child = go(u.child))
      case u: RouteRel => u.copy(child = go(u.child))
      case u: ForkRel => u.copy(child = go(u.child))
      case u: OrchOp => u.copy(child = go(u.child))
      case j: Join => j.copy(left = go(j.left), right = go(j.right))
      case s: SetOp => s.copy(left = go(s.left), right = go(s.right))
      case leaf => leaf
    }
    go(r)
  }

  /** Bottom-up expression rewrite: applies `f` where defined, recursing into
    * children first (shared by model-parameter substitution and user-def
    * inlining). Subquery relations are leaves. */
  def transformExpr(e: Expr)(f: PartialFunction[Expr, Expr]): Expr = {
    def go(x: Expr): Expr = {
      val rebuilt: Expr = x match {
        case DotRef(t, n) => DotRef(go(t), n)
        case MethodCall(t, n, args) => MethodCall(go(t), n, args.map(go))
        case FunctionCall(n, args, d, filt) => FunctionCall(n, args.map(go), d, filt.map(go))
        case WindowApply(fn, spec) =>
          WindowApply(go(fn), WindowSpec(
            spec.partitionBy.map(go),
            spec.orderBy.map(s => s.copy(expr = go(s.expr))),
            spec.frame))
        case ArrayLit(items) => ArrayLit(items.map(go))
        case MapLit(es) => MapLit(es.map { case (k, v) => (go(k), go(v)) })
        case StructLit(fs) => StructLit(fs.map { case (n, v) => (n, go(v)) })
        case Subscript(t, ix) => Subscript(go(t), go(ix))
        case LambdaExpr(ps, b) => LambdaExpr(ps, go(b))
        case BinaryOp(op, l, r) => BinaryOp(op, go(l), go(r))
        case UnaryOp(op, v) => UnaryOp(op, go(v))
        case Not(v) => Not(go(v))
        case IsNull(v, n) => IsNull(go(v), n)
        case Between(v, lo, hi, n) => Between(go(v), go(lo), go(hi), n)
        case InList(v, items, n) => InList(go(v), items.map(go), n)
        case LikeOp(v, p, n) => LikeOp(go(v), go(p), n)
        case RLikeOp(v, p, n) => RLikeOp(go(v), go(p), n)
        case Cast(v, t, tr) => Cast(go(v), t, tr)
        case CaseWhen(t, bs, o) =>
          CaseWhen(t.map(go), bs.map { case (c, v) => (go(c), go(v)) }, o.map(go))
        case IfExpr(c, t, fo) => IfExpr(go(c), go(t), fo.map(go))
        case Interpolation(parts, args) => Interpolation(parts, args.map(go))
        case Extract(fi, v) => Extract(fi, go(v))
        case TupleLit(items) => TupleLit(items.map(go))
        case AtTimeZone(v, tz) => AtTimeZone(go(v), go(tz))
        case other => other
      }
      if (f.isDefinedAt(rebuilt)) f(rebuilt) else rebuilt
    }
    go(e)
  }

  /** Lower the relation of a subquery expression to the frame Spark's
    * subquery API takes (`scalar`, `exists`, `isin`, `lateralJoin`);
    * Catalyst decorrelates it (RewriteCorrelatedScalarSubquery,
    * RewritePredicateSubquery). A subquery is a `select`/`agg` over `where`s
    * over a core: the core lowers once, then the filter and the projection
    * apply with the names taken from the enclosing frame (`ec.dfOpt` or
    * `ec.enclosing`) as outer references. Spark analyzes a frame holding
    * them only inside the enclosing plan, so nothing past the core reads
    * its schema, its aggregates are a `select` (`agg` analyzes eagerly),
    * and a correlated `select distinct` cannot deduplicate (`distinct`
    * analyzes eagerly too): it is allowed where duplicates change nothing
    * (`in`, `exists`: `duplicatesHarmless`) and rejected elsewhere. */
  private def subqueryFrame(q0: Relation, ec: ExprCtx, duplicatesHarmless: Boolean): DataFrame = {
    val q = q0 match { case BracedRelation(c) => c; case r => r }
    val (items, aggMode, distinct, filtered) = q match {
      case Project(c, its, d) => (its, its.exists(it => hasAgg(it.expr)), d, c)
      case Agg(c, its) => (its, true, false, c)
      case other => (Nil, false, false, other)
    }
    def peel(r: Relation, conds: List[Expr]): (Relation, List[Expr]) = r match {
      case Filter(c, cond) => peel(c, splitConjuncts(cond) ++ conds)
      case core => (core, conds)
    }
    val (core, conds) = peel(filtered, Nil)
    val scope = relationScopeNames(core)
    // a foreign qualifier below the outermost `where` would silently resolve
    // to the inner column of the same name (see hasForeignQualifier)
    if (relationNodes(core).exists { case Filter(_, c) => hasForeignQualifier(c, scope); case _ => false })
      throw new LoweringException(
        "a subquery may reference the outer query only in its outermost `where` and its `select`")
    val ctx = ec.ctx
    lowerRel(core, ctx) match {
      case g: Grouped =>
        if ((conds ++ items.map(_.expr)).exists(hasForeignQualifier(_, scope)))
          throw new LoweringException(
            "a correlated subquery cannot group: reference the outer row in a `where` before the `group by`")
        val where = conds.foldLeft[LRes](g)(filterOn(_, _, ctx))
        materialize(q match {
          case Project(_, its, d) => projectOn(where, its, d, ctx)
          case Agg(_, its) => aggOn(where, its, ctx)
          case _ => where
        }, ctx)
      case Plain(base) =>
        val outer = new OuterScope(scope, base.columns.toSeq,
          ec.enclosing ++ ec.dfOpt.fold(Seq.empty[String])(_.columns.toSeq))
        val iec = ExprCtx(ctx, aggMode = aggMode, dfOpt = Some(base), outer = Some(outer))
        val where =
          if (conds.isEmpty) base
          else base.filter(conds.map(expr(_, iec.copy(aggMode = false))).reduce(_ && _))
        val out =
          if (items.isEmpty) where
          else where.select(items.zipWithIndex.map { case (it, i) => selectCol(it, i, iec) }: _*)
        if (!distinct) out
        else if (outer.refs == 0) out.distinct()
        else if (duplicatesHarmless) out
        else throw new LoweringException(
          "a correlated `select distinct` subquery is supported under `in` and `exists` only: " +
            "aggregate it instead")
    }
  }

  /** Resolve an interpolated identifier s`name_${i}` to a concrete name:
    * every argument must fold to a constant after val substitution
    * (reference: backquote-interpolation.wv — model args and vals resolve
    * in the caller's context before the interpolation evaluates). */
  private def resolveInterpName(interp: Interpolation, ctx: Context): String = {
    def fold(e0: Expr): Any = {
      var e = e0
      var i = 0
      while (i < 10 && constValue(e).isEmpty) {
        e = transformExpr(e) { case Ident(n) if ctx.vals.contains(n) => ctx.vals(n) }
        i += 1
      }
      constValue(e).getOrElse(throw new LoweringException(
        s"interpolated identifier requires constant arguments, got: $e0"))
    }
    val vals = interp.args.map(fold)
    val sb = new StringBuilder
    interp.parts.zipWithIndex.foreach { case (p, i) =>
      sb ++= p
      if (i < vals.length) sb ++= String.valueOf(vals(i))
    }
    sb.toString
  }

  /** Reject (mutually) recursive model / partial-query definitions BEFORE
    * expansion: a cycle would otherwise recurse without bound (reference:
    * spec/neg recursive-model.wv, recursive-partial-query.wv — a user
    * error, not a StackOverflowError). Static DFS over the definition
    * graph; references collected by product walk so nested subqueries and
    * pipe chains are covered. */
  private def assertNoCycle(
      start: String,
      defs: Map[String, Relation],
      what: String
  ): Unit = {
    def refs(r: Relation): Set[String] = relationNodes(r).collect {
      case TableRef(n) if defs.contains(n) => n
      case ModelRef(n, _) if defs.contains(n) => n
      case PartialApply(_, n, _) if defs.contains(n.toLowerCase) => n.toLowerCase
    }.toSet
    val visiting = mutable.Set.empty[String]
    val done = mutable.Set.empty[String]
    def dfs(n: String, path: List[String]): Unit = {
      if (visiting.contains(n))
        throw new LoweringException(
          s"recursive $what reference: ${(path :+ n).mkString(" -> ")}")
      if (done.contains(n)) return
      visiting += n
      defs.get(n).foreach(body => refs(body).foreach(dfs(_, path :+ n)))
      visiting -= n
      done += n
    }
    dfs(start, Nil)
  }

  /** Table names and aliases visible inside a relation tree (lowercased) —
    * the name scope a subquery's own qualified refs may legally use. */
  private def relationScopeNames(r: Relation): Set[String] =
    relationNodes(r).collect {
      case TableRef(n) => n.toLowerCase
      case AliasedRelation(_, alias, _) => alias.toLowerCase
    }.toSet

  /** Every node of an AST tree, nested subqueries and expressions included
    * (a walk over the case classes' fields). */
  private def relationNodes(x: Any): Iterator[Any] = x match {
    case p: Product => Iterator.single(p) ++ p.productIterator.flatMap(relationNodes)
    case it: Iterable[_] => it.iterator.flatMap(relationNodes)
    case _ => Iterator.empty
  }

  /** Does `e` contain a qualified column ref `q.c` whose qualifier names
    * no relation in `scope`? Such a ref can only come from an OUTER query —
    * the expression is correlated. This must be checked structurally:
    * resolving it against the inner frame would silently drop the foreign
    * qualifier to the bare column (the post-join fallback in expr's DotRef
    * case), turning `l2.k = l1.k` into the always-true `k = k`. */
  private def hasForeignQualifier(e: Expr, scope: Set[String]): Boolean = {
    var found = false
    transformExpr(e) {
      case d @ DotRef(Ident(q), member)
        if !Stdlib.isAggMethod(member) && !Stdlib.scalarMethods.contains(member.toLowerCase) &&
          !scope.contains(q.toLowerCase) =>
        found = true; d
    }
    found
  }

  private def sortCol(si: SortItem, df: DataFrame, ctx: Context): Column = {
    val base = si.expr match {
      case LongLit(n) => F.col(df.columns((n - 1).toInt)) // ordinal: order by 1
      case e => expr(e, ExprCtx(ctx, aggMode = false, dfOpt = Some(df)))
    }
    (si.descending, si.nullsFirst) match {
      case (false, None) => base.asc
      case (true, None) => base.desc
      case (false, Some(true)) => base.asc_nulls_first
      case (false, Some(false)) => base.asc_nulls_last
      case (true, Some(true)) => base.desc_nulls_first
      case (true, Some(false)) => base.desc_nulls_last
    }
  }

  // ---------------------------------------------------------------------------
  // Expression lowering
  // ---------------------------------------------------------------------------
  final case class ExprCtx(
      ctx: Context,
      aggMode: Boolean,
      env: Map[String, Column] = Map.empty,
      dfOpt: Option[DataFrame] = None,
      inlineDepth: Int = 0,
      /** Set while lowering a correlated subquery (see subqueryFrame). */
      outer: Option[OuterScope] = None,
      /** Where `dfOpt` is unset (join ON, aggregates, grouped items): the
        * columns of the enclosing frame a subquery may reference. */
      enclosing: Seq[String] = Nil
  )

  /** The names a correlated subquery takes from its enclosing frame: a
    * qualified `q.c` whose qualifier names no relation (`scope`) and no
    * column (`inner`) of the subquery, and a bare name that is no column of
    * the subquery but one of the enclosing frame (`enclosing`). Each becomes
    * an outer reference; `refs` counts them. */
  final class OuterScope(scope: Set[String], inner: Seq[String], enclosing: Seq[String]) {
    var refs = 0
    def foreign(q: String): Boolean =
      !scope.contains(q.toLowerCase) && !inner.exists(_.equalsIgnoreCase(q))
    def bare(name: String): Boolean =
      !inner.exists(_.equalsIgnoreCase(name)) && enclosing.exists(_.equalsIgnoreCase(name))
    def ref(name: String): Column = { refs += 1; F.col(name).outer() }
  }

  /** Inline a user `def` by argument substitution (reference:
    * FunctionInliner.scala:43+ — sql-template expansion; here the template is
    * the AST and the result is a Column tree). */
  private def inlineUserFunc(name: String, args: List[Expr], ec: ExprCtx): Column = {
    val fd = ec.ctx.funcs(name)
    if (args.length != fd.params.length)
      throw new LoweringException(
        s"function ${fd.name} expects ${fd.params.length} argument(s), got ${args.length}")
    if (ec.inlineDepth > 20)
      throw new LoweringException(
        s"user function inlining exceeded depth 20 — is '${fd.name}' recursive?")
    val bound = fd.params.zip(args).toMap
    val body2 = transformExpr(fd.body) {
      case Ident(p) if bound.contains(p) => bound(p)
    }
    expr(body2, ec.copy(inlineDepth = ec.inlineDepth + 1))
  }

  /** Inline a type member def (`type t = { def m = … }`): bind `this` (and
    * `${this}` inside sql templates) to the target expression, then lower the
    * body. Row-level members (`_.m`) reference columns directly. */
  private def inlineTypeMember(name: String, target: Expr, ec: ExprCtx): Column = {
    if (ec.inlineDepth > 20)
      throw new LoweringException(
        s"type member inlining exceeded depth 20 — is '$name' recursive?")
    val targetSqlName: Option[String] = target match {
      case Ident(c) => Some(c)
      case DotRef(Ident(q), c) => Some(s"$q.$c")
      case _ => None
    }
    val body = ec.ctx.typeMemberDefs(name)._1
    val substituted = transformExpr(body) {
      case Ident("this") => target
      case RawSqlExpr(s) if targetSqlName.isDefined =>
        RawSqlExpr(s.replace("${this}", targetSqlName.get))
    }
    expr(substituted, ec.copy(inlineDepth = ec.inlineDepth + 1))
  }

  def expr(e: Expr, ec: ExprCtx): Column = e match {
    case NullLit() => F.lit(null)
    case BoolLit(b) => F.lit(b)
    case LongLit(v) => F.lit(v)
    case DoubleLit(v) => F.lit(v)
    case DecimalLit(v) => F.lit(v)
    case StringLit(s) => F.lit(s)
    case ArrayLit(items) => F.array(items.map(expr(_, ec)): _*)
    case MapLit(entries) =>
      F.map(entries.flatMap { case (k, v) => List(expr(k, ec), expr(v, ec)) }: _*)
    case StructLit(fields) =>
      F.struct(fields.map { case (n, v) => expr(v, ec).as(n) }: _*)
    case Star(None) => F.col("*")
    case Star(Some(q)) => F.col(s"$q.*")

    case RawSqlExpr(s) =>
      // sql"…" fragment: remaining `${x}` placeholders degrade to bare
      // identifiers (engine-side references), then Spark parses the fragment
      F.expr(s.replaceAll("""\$\{([A-Za-z_][A-Za-z0-9_.]*)\}""", "$1"))

    case Ident(name) =>
      ec.env.get(name)
        .orElse(ec.ctx.vals.get(name).map(v => expr(v, ec)))
        .orElse(ec.ctx.funcs.get(name.toLowerCase).filter(_.params.isEmpty)
          .map(_ => inlineUserFunc(name.toLowerCase, Nil, ec)))
        .orElse {
          // zero-arg builtins usable without parens (ulid_string, now, …) —
          // a real column of the same name wins
          val lower = name.toLowerCase
          if (zeroArgBuiltins.contains(lower) &&
            !ec.dfOpt.exists(_.columns.exists(_.equalsIgnoreCase(name))))
            Some(expr(FunctionCall(lower, Nil), ec))
          else None
        }
        .orElse(ec.outer.filter(_.bare(name)).map(_.ref(name)))
        .getOrElse(F.col(name))

    case Underscore =>
      if (ec.aggMode) F.lit(1) // _.count → count(1); other agg methods special-cased
      else ec.env.getOrElse("_", F.col("*"))

    case DotRef(target, name) =>
      val lname = name.toLowerCase
      if (ec.aggMode && Stdlib.isAggMethod(lname)) {
        val t = target match {
          case Underscore => F.lit(1)
          case other => expr(other, ec.copy(aggMode = false))
        }
        Stdlib.aggMethods(lname)(t, Nil)
      } else if (Stdlib.scalarMethods.contains(lname) && !resolvesAsColumn(target, name, ec)) {
        Stdlib.scalarMethods(lname)(expr(target, ec), Nil)
      } else if (ec.ctx.funcs.get(lname).exists(_.params.length == 1) &&
          !resolvesAsColumn(target, name, ec)) {
        // zero-paren method-style user def: x.f == f(x)
        inlineUserFunc(lname, List(target), ec)
      } else if (ec.ctx.typeMemberDefs.contains(lname) &&
          !resolvesAsColumn(target, name, ec)) {
        // type member def: `_.is_valid_behavior`, `td_user_agent.category`
        // (reference: sql-template methods on `type` blocks) — inline the
        // member body with `this`/placeholders bound to the target
        inlineTypeMember(lname, target, ec)
      } else
        target match {
          case Ident(q) if ec.env.contains(q) => ec.env(q).getField(name)
          case Ident(q) if ec.outer.exists(_.foreign(q)) => ec.outer.get.ref(s"$q.$name")
          case Ident(q) =>
            // qualified column `q.c`: after joins the qualifier may be gone
            // from the output — probe the DataFrame and fall back to the
            // bare column name (reference merges join columns similarly).
            // Inside a correlated subquery the column stays a name: Spark
            // re-instances a relation the subquery shares with the
            // enclosing plan, which a resolved column would not follow
            ec.dfOpt match {
              case Some(df) =>
                try { val c = df(s"$q.$name"); if (ec.outer.isDefined) F.col(s"$q.$name") else c }
                catch {
                  case _: Throwable =>
                    if (df.columns.exists(_.equalsIgnoreCase(name))) F.col(name)
                    else F.col(s"$q.$name")
                }
              case None => F.col(s"$q.$name")
            }
          case other => expr(other, ec).getField(name)
        }

    case MethodCall(target, name, args) =>
      val lname = name.toLowerCase
      if (ec.aggMode && Stdlib.isAggMethod(lname)) {
        val t = target match {
          case Underscore => F.lit(1)
          case other => expr(other, ec.copy(aggMode = false))
        }
        Stdlib.aggMethods(lname)(t, args.map(expr(_, ec.copy(aggMode = false))))
      } else if (lname == "in") {
        expr(target, ec).isin(args.map(a => constValue(a).getOrElse(expr(a, ec))): _*)
      } else if (lname == "not_in") {
        !expr(target, ec).isin(args.map(a => constValue(a).getOrElse(expr(a, ec))): _*)
      } else if (lname == "between") {
        expr(target, ec).between(expr(args.head, ec), expr(args(1), ec))
      } else if (Stdlib.scalarMethods.contains(lname)) {
        Stdlib.scalarMethods(lname)(expr(target, ec), args.map(expr(_, ec)))
      } else if (higherOrder.contains(lname)) {
        lowerHigherOrder(lname, target, args, ec)
      } else if (ec.ctx.funcs.contains(lname)) {
        // method-style user-def call: x.f(a) == f(x, a)
        inlineUserFunc(lname, target :: args, ec)
      } else {
        // fall back to function-call form: x.f(a) == f(x, a)
        F.call_function(name, (target :: args).map(expr(_, ec)): _*)
      }

    case fc: FunctionCall => lowerFunction(fc, ec)

    case WindowApply(fn, spec) => lowerWindow(fn, spec, ec)

    case BinaryOp(op, l, r) =>
      val (lc, rc) = (expr(l, ec), expr(r, ec))
      op match {
        case "and" => lc && rc
        case "or" => lc || rc
        case "=" => lc === rc
        case "!=" | "<>" => lc =!= rc
        case "<=>" => lc <=> rc
        case "<" => lc < rc
        case "<=" => lc <= rc
        case ">" => lc > rc
        case ">=" => lc >= rc
        case "+" =>
          if (isStringy(l, ec) || isStringy(r, ec)) F.concat(lc.cast("string"), rc.cast("string"))
          else lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        case "//" => F.floor(lc / rc).cast("bigint")
        case "%" => lc % rc
        case "||" => F.concat(lc.cast("string"), rc.cast("string"))
        case other => throw new LoweringException(s"unsupported operator: $other")
      }

    case UnaryOp("-", operand) => -expr(operand, ec)
    case UnaryOp(op, _) => throw new LoweringException(s"unsupported unary op: $op")
    case Not(operand) => !expr(operand, ec)
    case IsNull(operand, negated) =>
      if (negated) expr(operand, ec).isNotNull else expr(operand, ec).isNull
    case Between(operand, lo, hi, negated) =>
      val b = expr(operand, ec).between(expr(lo, ec), expr(hi, ec))
      if (negated) !b else b
    case InList(TupleLit(fields), items, negated) =>
      // tuple-IN (reference exprs.scala:430-450): expand to a disjunction of
      // conjunctive equalities — stays inside codegen, no struct allocation
      val lhs = fields.map(expr(_, ec))
      val in = items.map {
        case TupleLit(rhs) =>
          if (rhs.length != fields.length)
            throw new LoweringException(
              s"tuple IN arity mismatch: ${fields.length} vs ${rhs.length}")
          lhs.zip(rhs.map(expr(_, ec))).map { case (l, r) => l === r }.reduce(_ && _)
        case other =>
          throw new LoweringException(s"tuple IN requires tuple items, got $other")
      }.reduce(_ || _)
      if (negated) !in else in
    case InList(operand, items, negated) =>
      val in = expr(operand, ec).isin(items.map(i => constValue(i).getOrElse(expr(i, ec))): _*)
      if (negated) !in else in
    case TupleLit(items) => F.struct(items.map(expr(_, ec)): _*)
    case ParamRef(i) =>
      if (i >= ec.ctx.params.length)
        throw new LoweringException(
          s"prepared parameter ?${i + 1} has no bound value (${ec.ctx.params.length} provided)")
      F.lit(ec.ctx.params(i))
    case AtTimeZone(operand, tz) =>
      // interpret/convert instant to the target zone's local wall time
      // (timestamp_ntz result, like engines render TIMESTAMP AT TIME ZONE)
      F.convert_timezone(expr(tz, ec), expr(operand, ec))
    case LikeOp(operand, pattern, negated) =>
      val lk = F.call_function("like", expr(operand, ec), expr(pattern, ec))
      if (negated) !lk else lk
    case RLikeOp(operand, pattern, negated) =>
      val rl = F.call_function("rlike", expr(operand, ec), expr(pattern, ec))
      if (negated) !rl else rl
    case Cast(operand, tpe, isTry) =>
      val c = expr(operand, ec)
      val sparkType = mapTypeName(tpe)
      if (isTry) c.try_cast(sparkType) else c.cast(sparkType)
    case CaseWhen(target, branches, otherwise) =>
      val whens = target match {
        case Some(t) =>
          val tc = expr(t, ec)
          branches.map { case (c, v) => (tc === expr(c, ec), expr(v, ec)) }
        case None => branches.map { case (c, v) => (expr(c, ec), expr(v, ec)) }
      }
      val first = F.when(whens.head._1, whens.head._2)
      val chained = whens.tail.foldLeft(first) { case (acc, (c, v)) => acc.when(c, v) }
      otherwise.map(o => chained.otherwise(expr(o, ec))).getOrElse(chained)
    case IfExpr(cond, t, f) =>
      F.when(expr(cond, ec), expr(t, ec)).otherwise(f.map(expr(_, ec)).getOrElse(F.lit(null)))
    case Interpolation(parts, args) =>
      val pieces = List.newBuilder[Column]
      parts.zipWithIndex.foreach { case (p, i) =>
        if (p.nonEmpty) pieces += F.lit(p)
        if (i < args.length) pieces += expr(args(i), ec).cast("string")
      }
      F.concat(pieces.result(): _*)
    case Extract(field, from) => F.date_part(F.lit(field), expr(from, ec))
    case Subscript(target, index) =>
      index match {
        // string subscript: struct field / map key access via getItem
        case StringLit(s) => expr(target, ec).getItem(s)
        // element_at requires an INT ordinal for arrays
        case LongLit(v) => F.element_at(expr(target, ec), F.lit(v.toInt))
        case _ => F.element_at(expr(target, ec), expr(index, ec))
      }
    case LambdaExpr(_, _) =>
      throw new LoweringException("lambda outside higher-order function context")
    case ScalarSubquery(q) => subqueryFrame(q, ec, duplicatesHarmless = false).scalar()
    case ExistsExpr(q) => subqueryFrame(q, ec, duplicatesHarmless = true).exists()
    case InSubquery(operand, q, negated) =>
      // a tuple operand lowers to a struct, whose fields Spark matches
      // against the subquery's columns
      val in = expr(operand, ec).isin(subqueryFrame(q, ec, duplicatesHarmless = true))
      if (negated) !in else in
    case Underscore => F.lit(1)
    case other => throw new LoweringException(s"cannot lower expression: $other")
  }

  /** True when `target.name` resolves as a qualified column of the current
    * DataFrame — a column named like a scalar method (e.g. `t.length`) then
    * wins over the method interpretation. */
  private def resolvesAsColumn(target: Expr, name: String, ec: ExprCtx): Boolean = target match {
    case Ident(q) =>
      ec.dfOpt.exists { df =>
        try { df(s"$q.$name"); true }
        catch { case _: Throwable => false }
      }
    case _ => false
  }

  private def isStringy(e: Expr, ec: ExprCtx): Boolean = e match {
    case StringLit(_) | Interpolation(_, _) => true
    case BinaryOp("+", l, r) => isStringy(l, ec) || isStringy(r, ec)
    case _ => false
  }

  /** `_1`, `_2`, … reference grouping keys positionally in agg/select items
    * over a grouped relation (reference: agg_tpe_resolve.wv). */
  private def bindPositionalKeys(e: Expr, keys: List[SelectItem]): Expr =
    transformExpr(e) {
      case Ident(n)
          if n.length > 1 && n.head == '_' && n.tail.forall(_.isDigit) &&
            n.tail.toInt >= 1 && n.tail.toInt <= keys.length =>
        keys(n.tail.toInt - 1).expr
    }

  /** Zero-argument builtins callable as bare identifiers. */
  private val zeroArgBuiltins: Set[String] =
    Set("ulid", "ulid_string", "uuid", "current_date", "current_timestamp", "now")

  // Higher-order array functions: arr.filter(x -> …), arr.transform, …
  private val higherOrder = Set("filter", "transform", "map_each", "exists",
    "all_match", "reduce", "aggregate", "zip_with", "array_sort")

  private def lowerHigherOrder(name: String, target: Expr, args: List[Expr], ec: ExprCtx): Column = {
    val t = expr(target, ec)
    def fn1(l: Expr): Column => Column = l match {
      case LambdaExpr(p :: Nil, body) => (x: Column) => expr(body, ec.copy(env = ec.env + (p -> x)))
      case other => throw new LoweringException(s"expected 1-arg lambda, got $other")
    }
    def fn2(l: Expr): (Column, Column) => Column = l match {
      case LambdaExpr(p1 :: p2 :: Nil, body) =>
        (a: Column, b: Column) => expr(body, ec.copy(env = ec.env + (p1 -> a) + (p2 -> b)))
      case other => throw new LoweringException(s"expected 2-arg lambda, got $other")
    }
    name match {
      case "filter" => F.filter(t, fn1(args.head))
      case "transform" | "map_each" => F.transform(t, fn1(args.head))
      case "exists" => F.exists(t, fn1(args.head))
      case "all_match" => F.forall(t, fn1(args.head))
      case "reduce" | "aggregate" =>
        F.aggregate(t, expr(args.head, ec), fn2(args(1)))
      case "zip_with" => F.zip_with(t, expr(args.head, ec), fn2(args(1)))
      case "array_sort" =>
        // the comparator contract is an INT return; wv integer literals are
        // longs, so coerce the comparator result
        val cmp = fn2(args.head)
        F.array_sort(t, (a, b) => cmp(a, b).cast("int"))
      case other => throw new LoweringException(s"unsupported higher-order fn: $other")
    }
  }

  /** Aggregates that take a single value argument — eligible for the generic
    * FILTER (WHERE …) rewrite `agg(when(cond, x))` (nulls are ignored by all
    * of them) and for `__orderby`-aware collection. */
  private val singleArgAggs: Set[String] = Set(
    "sum", "avg", "min", "max", "median", "any_value", "arbitrary",
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
    "skewness", "kurtosis", "collect_list", "array_agg", "collect_set",
    "approx_count_distinct", "count_if", "bool_and", "bool_or", "mode",
    "bit_and", "bit_or", "bit_xor", "product")

  private def lowerFunction(fc: FunctionCall, ec: ExprCtx): Column = {
    val name = fc.name.toLowerCase
    // strip parser-internal order-by args (string_agg(x order by y) etc.)
    val (orderArgsRaw, plainArgs) = fc.args.partition {
      case FunctionCall("__orderby", _, _, _) => true
      case _ => false
    }
    val orderArgs: List[(Expr, Boolean)] = orderArgsRaw.map {
      case FunctionCall("__orderby", List(e, BoolLit(desc)), _, _) => (e, desc)
      case other => throw new LoweringException(s"malformed order-by arg: $other")
    }
    val args = plainArgs

    // aggregate FILTER (WHERE cond): rewritten as agg(when(cond, x)) — valid
    // for any null-ignoring single-value aggregate; count(*) counts when(cond,1)
    val filt: Option[Column] = fc.filter.map(f0 => expr(f0, ec))
    def ag(c: Column): Column = filt.fold(c)(p => F.when(p, c))
    val isKnownAgg = Stdlib.aggFunctionNames.contains(name) || singleArgAggs.contains(name)
    if (filt.isDefined && !isKnownAgg)
      throw new LoweringException(s"FILTER (WHERE …) not supported for function: ${fc.name}")
    if (orderArgs.nonEmpty && name != "string_agg" && name != "listagg" &&
        name != "array_agg" && name != "collect_list")
      throw new LoweringException(s"ORDER BY inside ${fc.name}(…) is not supported")

    // SQL-style higher-order calls — filter(arr, x -> …) — route through
    // the same dispatch as the method form arr.filter(x -> …)
    if (higherOrder.contains(name) && args.length >= 2 &&
        args.tail.exists(_.isInstanceOf[LambdaExpr]))
      return lowerHigherOrder(name, args.head, args.tail, ec)

    def a(i: Int): Column = expr(args(i), ec)
    def all: List[Column] = args.map(expr(_, ec))

    /** collect values in the user-specified `order by` (default: by value),
      * as an array — shared by string_agg / array_agg with order. */
    def orderedCollect(value: Column): Column = {
      if (orderArgs.isEmpty) F.sort_array(F.collect_list(ag(value)))
      else {
        val sortCols = orderArgs.zipWithIndex.map { case ((e, _), i) =>
          expr(e, ec).as(s"__s$i")
        }
        val st = F.struct(sortCols :+ value.as("__v"): _*)
        val arr = F.collect_list(ag(st))
        // array_sort comparator honoring per-key direction; ties broken by
        // the value itself for deterministic output
        val sorted = F.array_sort(arr, (x: Column, y: Column) => {
          val valCmp = F.when(x.getField("__v") < y.getField("__v"), F.lit(-1))
            .when(x.getField("__v") > y.getField("__v"), F.lit(1))
            .otherwise(F.lit(0))
          orderArgs.zipWithIndex.foldRight(valCmp: Column) { case (((_, desc), i), acc) =>
            val (xa, ya) = (x.getField(s"__s$i"), y.getField(s"__s$i"))
            val lt = if (desc) 1 else -1
            F.when(xa.isNull && ya.isNull, acc)
              .when(xa.isNull, F.lit(-lt))   // nulls last on asc (SQL default)
              .when(ya.isNull, F.lit(lt))
              .when(xa < ya, F.lit(lt))
              .when(xa > ya, F.lit(-lt))
              .otherwise(acc)
          }
        })
        F.transform(sorted, x => x.getField("__v"))
      }
    }

    val base: Column = name match {
      case "count" if args.isEmpty || args.headOption.contains(Star(None)) =>
        if (fc.isDistinct) throw new LoweringException("count(distinct *) unsupported")
        F.count(ag(F.lit(1)))
      case "count" if fc.isDistinct => F.countDistinct(ag(all.head), all.tail.map(ag): _*)
      case "count_distinct" => F.countDistinct(ag(all.head), all.tail.map(ag): _*)
      case "count" => F.count(ag(a(0)))
      case "sum" if fc.isDistinct => F.sum_distinct(ag(a(0)))
      case "avg" if fc.isDistinct =>
        // avg(distinct x) = sum(distinct x) / count(distinct x)
        F.sum_distinct(ag(a(0))).cast("double") / F.countDistinct(ag(a(0)))
      case "collect_list" | "array_agg" if fc.isDistinct =>
        // ordered-distinct: dedup after the ordered collect (array_distinct
        // keeps the first occurrence, preserving the order-by position)
        if (orderArgs.nonEmpty) F.array_distinct(orderedCollect(a(0)))
        else F.collect_set(ag(a(0)))
      case _ if fc.isDistinct && !Set("string_agg", "listagg").contains(name) =>
        throw new LoweringException(s"DISTINCT not supported for function: ${fc.name}")
      case "if" =>
        F.when(a(0), a(1)).otherwise(if (args.length > 2) a(2) else F.lit(null))
      case "coalesce" | "or_else" => F.coalesce(all: _*)
      case "unnest" | "explode" =>
        args.headOption match {
          // unnest(null) / unnest([]) → zero rows, typed (explode(NULL) is
          // an analysis error)
          case Some(NullLit()) | Some(ArrayLit(Nil)) =>
            F.explode(F.typedLit(Array.empty[Int]))
          case _ => F.explode(a(0))
        }
      case "concat" => F.concat(all: _*)
      case "collect_list" | "array_agg" if orderArgs.nonEmpty => orderedCollect(a(0))
      case "string_agg" | "listagg" =>
        val sep = if (args.length > 1) a(1) else F.lit(",")
        val arr0 = orderedCollect(a(0).cast("string"))
        val arr = if (fc.isDistinct) {
          if (orderArgs.nonEmpty)
            throw new LoweringException("string_agg(distinct … order by …) unsupported")
          F.array_distinct(arr0)
        } else arr0
        F.call_function("array_join", arr, sep)
      case "row_number" => F.row_number()
      case "rank" => F.rank()
      case "dense_rank" => F.dense_rank()
      case "percent_rank" => F.percent_rank()
      case "cume_dist" => F.cume_dist()
      case "ntile" =>
        constValue(args.head) match {
          case Some(n: Long) => F.ntile(n.toInt)
          case _ => throw new LoweringException("ntile requires integer literal")
        }
      case "lag" | "lead" =>
        val offset = if (args.length > 1) constValue(args(1)).map(_.toString.toInt).getOrElse(1) else 1
        val default: Any = if (args.length > 2) constValue(args(2)).orNull else null
        if (name == "lag") F.lag(a(0), offset, default) else F.lead(a(0), offset, default)
      // FILTER (WHERE c): first non-null of when(c, x) — ignoreNulls makes the
      // rewrite honor the filter (plain first/last keep default null handling)
      case "first_value" | "first" =>
        if (filt.isDefined) F.first(ag(a(0)), ignoreNulls = true) else F.first(a(0))
      case "last_value" | "last" =>
        if (filt.isDefined) F.last(ag(a(0)), ignoreNulls = true) else F.last(a(0))
      case "product" => F.product(ag(a(0)))
      case "arbitrary" | "any_value" => F.any_value(ag(a(0)))
      case "median" => F.median(ag(a(0)))
      case "approx_quantile" | "percentile_approx" =>
        F.percentile_approx(ag(a(0)), a(1), F.lit(10000))
      // DuckDB-style list HOFs in function-call position
      case "list_transform" | "array_transform" if args.length == 2 =>
        lowerHigherOrder("transform", args.head, args.tail, ec)
      case "list_filter" | "array_filter" if args.length == 2 =>
        lowerHigherOrder("filter", args.head, args.tail, ec)
      case "list_reduce" if args.length == 2 =>
        // DuckDB list_reduce: first element is the initial accumulator
        val arr = a(0)
        val fn2 = args(1) match {
          case LambdaExpr(p1 :: p2 :: Nil, body) =>
            (x: Column, y: Column) => expr(body, ec.copy(env = ec.env + (p1 -> x) + (p2 -> y)))
          case other => throw new LoweringException(s"expected 2-arg lambda, got $other")
        }
        F.aggregate(
          F.slice(arr, F.lit(2), F.greatest(F.size(arr) - 1, F.lit(0))),
          F.element_at(arr, 1), fn2)
      case "__interval" =>
        args.head match {
          case StringLit(s) => F.expr(s"interval '$s'")
          case _ => throw new LoweringException("bad interval literal")
        }
      case "__should_be" | "__should_not_be" | "__should_contain" | "__should_not_contain" =>
        throw new LoweringException("test assertion cannot be lowered as a column")
      case "regexp_extract" if args.length == 2 =>
        // DuckDB 2-arg form returns the whole match (group 0)
        F.regexp_extract(a(0), args(1) match {
          case StringLit(p) => p
          case _ => throw new LoweringException("regexp_extract pattern must be a literal")
        }, 0)
      case "current_date" => F.current_date()
      case "current_timestamp" | "now" => F.current_timestamp()
      // NTZ-tolerant epoch conversions (Spark's builtins reject
      // TIMESTAMP_NTZ; the reference's DuckDB backend coerces freely)
      case "unix_micros" if args.length == 1 =>
        graft.functions.EpochTime.unixMicros(a(0))
      case "unix_millis" | "epoch_ms" if args.length == 1 =>
        graft.functions.EpochTime.unixMillis(a(0))
      case "to_unixtime" | "unix_seconds" | "epoch" if args.length == 1 =>
        F.unix_seconds(a(0).cast("timestamp"))
      case "ulid" | "ulid_string" => graft.functions.UlidExpression.ulidString()
      case n if singleArgAggs.contains(n) && args.length == 1 =>
        F.call_function(fc.name, ag(a(0)))
      case _ if ec.ctx.funcs.contains(name) =>
        if (filt.isDefined || fc.isDistinct)
          throw new LoweringException(
            s"DISTINCT / FILTER not applicable to user function: ${fc.name}")
        inlineUserFunc(name, args, ec)
      case _ =>
        if (filt.isDefined)
          throw new LoweringException(s"FILTER (WHERE …) not supported for function: ${fc.name}")
        F.call_function(fc.name, all: _*)
    }
    base
  }

  private def lowerWindow(fn: Expr, spec: WindowSpec, ec: ExprCtx): Column = {
    import org.apache.spark.sql.expressions.Window
    val fnCol = expr(fn, ec.copy(aggMode = true))
    var w = Window.partitionBy(spec.partitionBy.map(expr(_, ec)): _*)
    if (spec.orderBy.nonEmpty)
      w = w.orderBy(spec.orderBy.map { si =>
        val c = expr(si.expr, ec)
        (si.descending, si.nullsFirst) match {
          case (false, None) => c.asc
          case (true, None) => c.desc
          case (false, Some(true)) => c.asc_nulls_first
          case (false, Some(false)) => c.asc_nulls_last
          case (true, Some(true)) => c.desc_nulls_first
          case (true, Some(false)) => c.desc_nulls_last
        }
      }: _*)
    spec.frame.foreach { fr =>
      val start = fr.start.getOrElse(Window.unboundedPreceding)
      val end = fr.end.getOrElse(Window.unboundedFollowing)
      w = if (fr.isRows) w.rowsBetween(start, end) else w.rangeBetween(start, end)
    }
    fnCol.over(w)
  }

  // --- helpers ---------------------------------------------------------------

  /** Does the expression contain an aggregate (dot-agg method or aggregate
    * function call) not wrapped in a window? */
  def hasAgg(e: Expr): Boolean = e match {
    case DotRef(t, n) => Stdlib.isAggMethod(n) || hasAgg(t)
    case MethodCall(t, n, args) =>
      Stdlib.isAggMethod(n) || hasAgg(t) || args.exists(hasAgg)
    case FunctionCall(n, args, _, _) =>
      Stdlib.aggFunctionNames.contains(n.toLowerCase) || args.exists(hasAgg)
    case WindowApply(_, _) => false
    case BinaryOp(_, l, r) => hasAgg(l) || hasAgg(r)
    case UnaryOp(_, x) => hasAgg(x)
    case Not(x) => hasAgg(x)
    case IsNull(x, _) => hasAgg(x)
    case Between(x, lo, hi, _) => hasAgg(x) || hasAgg(lo) || hasAgg(hi)
    case InList(x, items, _) => hasAgg(x) || items.exists(hasAgg)
    case Cast(x, _, _) => hasAgg(x)
    case CaseWhen(t, bs, o) =>
      t.exists(hasAgg) || bs.exists { case (c, v) => hasAgg(c) || hasAgg(v) } || o.exists(hasAgg)
    case IfExpr(c, t, f) => hasAgg(c) || hasAgg(t) || f.exists(hasAgg)
    case Interpolation(_, args) => args.exists(hasAgg)
    case Subscript(t, i) => hasAgg(t) || hasAgg(i)
    case _ => false
  }

  private def hasSubquery(e: Expr): Boolean = {
    var found = false
    transformExpr(e) {
      case s @ (_: InSubquery | _: ExistsExpr | _: ScalarSubquery) => found = true; s
    }
    found
  }

  /** Column names referenced by an expression (for pivot group-key inference). */
  private def columnRefs(e: Expr): List[String] = e match {
    case Ident(n) => List(n)
    case DotRef(t, _) => columnRefs(t)
    case MethodCall(t, _, args) => columnRefs(t) ++ args.flatMap(columnRefs)
    case FunctionCall(_, args, _, _) => args.flatMap(columnRefs)
    case BinaryOp(_, l, r) => columnRefs(l) ++ columnRefs(r)
    case UnaryOp(_, x) => columnRefs(x)
    case Cast(x, _, _) => columnRefs(x)
    case _ => Nil
  }

  /** Constant-fold literal expressions (used for Values cells, pivot values,
    * isin lists; reference: transform/ExpressionEvaluator.scala). */
  def constValue(e: Expr): Option[Any] = e match {
    case ArrayLit(items) =>
      val vs = items.map(constValue)
      if (vs.forall(_.isDefined)) Some(vs.map(_.get)) else None
    case NullLit() => Some(null)
    case BoolLit(b) => Some(b)
    case LongLit(v) => Some(v)
    case DoubleLit(v) => Some(v)
    case DecimalLit(v) => Some(v)
    case StringLit(s) => Some(s)
    case UnaryOp("-", x) =>
      constValue(x).map {
        case v: Long => -v
        case v: Double => -v
        case v: BigDecimal => -v
        case other => return None
      }
    case BinaryOp(op, l, r) =>
      for {
        lv <- constValue(l)
        rv <- constValue(r)
        result <- (lv, rv) match {
          case (a: Long, b: Long) =>
            op match {
              case "+" => Some(a + b)
              case "-" => Some(a - b)
              case "*" => Some(a * b)
              case "/" => Some(a.toDouble / b)
              case _ => None
            }
          case (a: String, b: String) if op == "+" || op == "||" => Some(a + b)
          case _ => None
        }
      } yield result
    case _ => None
  }

  /** Spark type → language-level type display name (reference: long not
    * bigint, etc. — describe.wv output shape). */
  def wvTypeName(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case ShortType => "short"
    case ByteType => "byte"
    case FloatType => "float"
    case ArrayType(et, _) => s"array(${wvTypeName(et)})"
    case MapType(k, v, _) => s"map(${wvTypeName(k)},${wvTypeName(v)})"
    case other => other.simpleString
  }

  /** Graft type name → Spark SQL DDL type string (SURVEY §1.2 mapping). */
  def mapTypeName(t: String): String = {
    val base = t.toLowerCase
    base match {
      case "int" | "integer" => "int"
      case "long" | "bigint" => "bigint"
      case "short" | "smallint" => "smallint"
      case "byte" | "tinyint" => "tinyint"
      case "float" | "real" => "float"
      case "double" => "double"
      case "string" | "varchar" | "text" | "json" => "string"
      case "boolean" | "bool" => "boolean"
      case "date" => "date"
      case "time" => "timestamp_ntz"
      case "timestamp" => "timestamp"
      case "binary" => "binary"
      case other if other.startsWith("decimal") => other
      case other if other.startsWith("varchar") || other.startsWith("char") => "string"
      case other if other.startsWith("array") || other.startsWith("map") ||
        other.startsWith("struct") => other
      case other => other
    }
  }
}
