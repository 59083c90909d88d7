package graft.lang

/** AST for the Graft flow-style query language.
  *
  * The node inventory mirrors the reference language's relational operators
  * (see /root/reference/wvlet-lang/src/main/scala/wvlet/lang/model/plan/relation.scala
  * and model/expr/exprs.scala), but the tree is designed to lower directly onto
  * `org.apache.spark.sql.DataFrame` / `Column` — schemas are resolved lazily at
  * lowering time from the DataFrame itself, so no separate static typer pass is
  * required for column-level operators.
  */
sealed trait Node extends Product with Serializable

// ---------------------------------------------------------------------------
// Expressions
// ---------------------------------------------------------------------------
sealed trait Expr extends Node

/** Unqualified identifier (column reference or bare function name). */
final case class Ident(name: String) extends Expr
/** `_` — the context input (the whole row set / group in agg context). */
case object Underscore extends Expr
/** `a.b` — qualified column ref or zero-arg method (resolved at lowering). */
final case class DotRef(qualifier: Expr, name: String) extends Expr
/** `expr.method(args)` — stdlib method chain / dot-aggregation. */
final case class MethodCall(target: Expr, name: String, args: List[Expr]) extends Expr
/** `f(args)` with optional DISTINCT and aggregate FILTER clause. */
final case class FunctionCall(
    name: String,
    args: List[Expr],
    isDistinct: Boolean = false,
    filter: Option[Expr] = None
) extends Expr
/** `fn over (partition by ... order by ... rows[a,b])` */
final case class WindowApply(fn: Expr, spec: WindowSpec) extends Expr
final case class WindowSpec(
    partitionBy: List[Expr],
    orderBy: List[SortItem],
    frame: Option[WindowFrame]
)
/** frame bounds: None = unbounded on that side; values are row/range offsets */
final case class WindowFrame(isRows: Boolean, start: Option[Long], end: Option[Long])

sealed trait Literal extends Expr { def value: Any }
final case class NullLit() extends Literal { def value: Any = null }
final case class BoolLit(value: Boolean) extends Literal
final case class LongLit(value: Long) extends Literal
final case class DoubleLit(value: Double) extends Literal
final case class DecimalLit(value: BigDecimal) extends Literal
final case class StringLit(value: String) extends Literal

final case class ArrayLit(items: List[Expr]) extends Expr
/** `(a, b)` row-value tuple — used with tuple-IN (`(a,b) in ((1,2),(3,4))`). */
final case class TupleLit(items: List[Expr]) extends Expr
/** `?` prepared-statement placeholder, bound positionally from query params. */
final case class ParamRef(index: Int) extends Expr
/** `ts at time zone 'Asia/Tokyo'` (reference: exprs.scala:494-499). */
final case class AtTimeZone(operand: Expr, tz: Expr) extends Expr
final case class MapLit(entries: List[(Expr, Expr)]) extends Expr
final case class StructLit(fields: List[(String, Expr)]) extends Expr
/** `arr[i]` */
final case class Subscript(target: Expr, index: Expr) extends Expr
/** `x -> body` lambda for higher-order functions */
final case class LambdaExpr(params: List[String], body: Expr) extends Expr
/** `*` or `t.*` */
final case class Star(qualifier: Option[String]) extends Expr

final case class BinaryOp(op: String, left: Expr, right: Expr) extends Expr
final case class UnaryOp(op: String, operand: Expr) extends Expr
final case class Not(operand: Expr) extends Expr
final case class IsNull(operand: Expr, negated: Boolean) extends Expr
final case class Between(operand: Expr, lower: Expr, upper: Expr, negated: Boolean) extends Expr
final case class InList(operand: Expr, items: List[Expr], negated: Boolean) extends Expr
final case class InSubquery(operand: Expr, query: Relation, negated: Boolean) extends Expr
final case class ExistsExpr(query: Relation) extends Expr
final case class ScalarSubquery(query: Relation) extends Expr
final case class LikeOp(operand: Expr, pattern: Expr, negated: Boolean) extends Expr
final case class RLikeOp(operand: Expr, pattern: Expr, negated: Boolean) extends Expr
final case class Cast(operand: Expr, dataType: String, isTry: Boolean) extends Expr
final case class CaseWhen(
    target: Option[Expr],
    branches: List[(Expr, Expr)],
    otherwise: Option[Expr]
) extends Expr
/** `if(cond, then [, else])` — normalized to else=null when absent */
final case class IfExpr(cond: Expr, thenE: Expr, elseE: Option[Expr]) extends Expr
/** s"..." interpolation — lowered to concat(cast(...)) */
final case class Interpolation(parts: List[String], args: List[Expr]) extends Expr
/** extract(field from x) */
final case class Extract(field: String, from: Expr) extends Expr

final case class SortItem(expr: Expr, descending: Boolean, nullsFirst: Option[Boolean]) extends Node

// ---------------------------------------------------------------------------
// Relations (pipe operators)
// ---------------------------------------------------------------------------
sealed trait Relation extends Node
sealed trait UnaryRelation extends Relation { def child: Relation }

/** Named table (resolved through the session catalog / table resolver). */
final case class TableRef(name: String) extends Relation
/** s`name_${i}` interpolated identifier in FROM position — the name
  * resolves at lowering from constant-foldable arguments (reference:
  * backquote-interpolation.wv macro identifiers). */
final case class TableRefDyn(interp: Interpolation) extends Relation
/** `select as s`name_${i}`` — interpolated intermediate-result name. */
final case class SelectAsNamedDyn(child: Relation, interp: Interpolation)
    extends UnaryRelation
/** `from m(arg, ...)` — parameterized model invocation, expanded at lowering
  * (reference: ModelScan, relation.scala:1106-1119). */
final case class ModelRef(name: String, args: List[Expr]) extends Relation
/** Placeholder leaf for the input of a partial-query def (`def f = where …`);
  * replaced by the piped-in relation at application time
  * (reference: PartialQueryDef/Apply, plan.scala:154-155, relation.scala:405-418). */
case object PipeInput extends Relation
/** Application of a named partial-query def as a pipe operator. */
final case class PartialApply(child: Relation, name: String, args: List[Expr] = Nil)
    extends UnaryRelation
/** `save to target` appearing INSIDE a sub-pipeline (debug blocks): writes
  * eagerly at lowering, passes the child through. */
final case class SaveRel(child: Relation, target: String, append: Boolean)
    extends UnaryRelation
/** `from 'path.parquet'` — format chosen by extension. */
final case class FileScan(path: String) extends Relation
/** `from [[...],...] as t(c1,c2)` literal rows. */
final case class Values(rows: List[List[Expr]], alias: Option[String], columns: List[String])
    extends Relation
/** Inline raw Spark SQL escape hatch: `from sql"..."`. */
final case class RawSql(sql: String) extends Relation
/** `tbl.subscribe(watermark_column = 'c', window_size = '1h')` — a
  * subscription over the child relation (reference: Subscribe,
  * relation.scala:1121-1141). Batch lowering is a full refresh of the child
  * (the reference's non-incremental fallback); `Lowering.lowerStreamingAgg`
  * lowers the same relation over a readStream source in place of the
  * child. */
final case class SubscribeRel(child: Relation, params: List[(String, String)])
    extends UnaryRelation
/** `sql"…"` in EXPRESSION position — a SQL fragment template (reference:
  * sql-template member defs, cdp_types.wv). `${ident}` placeholders are
  * substituted at inline time. */
final case class RawSqlExpr(sql: String) extends Expr
/** Inline JSON rows: `from json"[{...}, ...]"` (reference: RawJSON). */
final case class RawJson(json: String) extends Relation

/** `call connector.tool(name: value, …)` — a driver-side tool invocation
  * as a 1-row relation (connector, tool, status, content); reference
  * relation.scala:1182-1205. */
final case class CallToolRel(
    connector: String,
    tool: String,
    args: List[(String, Expr)]
) extends Relation
/** `from unnest([...]) as t(c)` (standalone table function). */
final case class UnnestRel(
    expr: Expr,
    alias: Option[String],
    columns: List[String],
    withOrdinality: Boolean
) extends Relation
/** zero-row relation */
case object EmptyRelation extends Relation

final case class AliasedRelation(child: Relation, alias: String, columns: List[String])
    extends UnaryRelation
/** `select as name` — names the intermediate result; later `from name`
  * re-derives it (reference: SelectAsAlias, relation.scala:89-92). */
final case class SelectAsNamed(child: Relation, name: String) extends UnaryRelation
final case class BracedRelation(child: Relation) extends UnaryRelation

final case class SelectItem(expr: Expr, alias: Option[String]) extends Node

final case class Filter(child: Relation, condition: Expr) extends UnaryRelation
final case class Project(child: Relation, items: List[SelectItem], distinct: Boolean)
    extends UnaryRelation
final case class GroupBy(child: Relation, keys: List[SelectItem]) extends UnaryRelation
/** `agg a = expr, ...` — must follow group by (or aggregates globally). */
final case class Agg(child: Relation, items: List[SelectItem]) extends UnaryRelation
/** `add` / `prepend` new computed columns. */
final case class AddColumns(child: Relation, items: List[SelectItem], prepend: Boolean)
    extends UnaryRelation
/** `transform c = expr` — replace a subset of columns in place. */
final case class TransformColumns(child: Relation, items: List[SelectItem]) extends UnaryRelation
final case class ExcludeColumns(child: Relation, columns: List[String]) extends UnaryRelation
final case class RenameColumns(child: Relation, renames: List[(String, String)])
    extends UnaryRelation
final case class ShiftColumns(child: Relation, columns: List[String], toLeft: Boolean)
    extends UnaryRelation

final case class Sort(child: Relation, items: List[SortItem]) extends UnaryRelation
final case class Limit(child: Relation, n: Long) extends UnaryRelation
final case class Offset(child: Relation, n: Long) extends UnaryRelation
final case class CountRel(child: Relation) extends UnaryRelation
final case class DedupRel(child: Relation) extends UnaryRelation
/** `sample 10` / `sample 50%` / `sample reservoir(100)` / system / bernoulli */
final case class SampleRel(
    child: Relation,
    method: Option[String], // reservoir | system | bernoulli
    isPercent: Boolean,
    size: Double
) extends UnaryRelation

sealed abstract class JoinKind(val sparkName: String)
object JoinKind {
  case object Inner extends JoinKind("inner")
  case object Left extends JoinKind("left_outer")
  case object Right extends JoinKind("right_outer")
  case object Full extends JoinKind("full_outer")
  case object Cross extends JoinKind("cross")
  case object Semi extends JoinKind("left_semi")
  case object Anti extends JoinKind("left_anti")
}
final case class Join(
    left: Relation,
    right: Relation,
    kind: JoinKind,
    on: Option[Expr],
    usingColumns: List[String],
    asof: Boolean,
    natural: Boolean = false,
    lateral: Boolean = false
) extends Relation

sealed trait SetOpKind
object SetOpKind {
  case object Concat extends SetOpKind // UNION ALL
  case object Union extends SetOpKind // UNION DISTINCT
  case object Intersect extends SetOpKind
  case object Except extends SetOpKind
}
final case class SetOp(kind: SetOpKind, left: Relation, right: Relation, distinct: Boolean)
    extends Relation

/** `pivot on col [in (v1, ...)] [using agg]`; groups by all other columns. */
final case class Pivot(
    child: Relation,
    pivotColumn: String,
    values: List[Expr],
    agg: Option[SelectItem]
) extends UnaryRelation
/** `unpivot valueCol for varCol in (c1, c2, ...)` */
final case class Unpivot(
    child: Relation,
    valueColumn: String,
    varColumn: String,
    columns: List[String]
) extends UnaryRelation
/** `cross join unnest(arr) as t(c)` becomes LateralUnnest */
final case class LateralUnnest(
    child: Relation,
    expr: Expr,
    alias: Option[String],
    columns: List[String],
    withOrdinality: Boolean
) extends UnaryRelation

final case class DescribeRel(child: Relation) extends UnaryRelation
/** `explain <query>` / `explain sql"…"` — one row with the optimized +
  * physical plan text. */
final case class ExplainRel(child: Relation) extends UnaryRelation
/** in-query assertion — pass-through for the main query, evaluated by TestRunner */
final case class TestRel(child: Relation, assertion: Expr) extends UnaryRelation
/** side-channel debug sub-pipeline — pass-through in the main flow; `body` is
  * the debug chain already applied to the child, executed eagerly as a side
  * task (reference: ExecutionPlanner.scala:39-41). */
final case class DebugRel(child: Relation, body: Relation) extends UnaryRelation

// grouping sets / rollup / cube over group by
sealed trait GroupingStyle
object GroupingStyle {
  case object Plain extends GroupingStyle
  case object Rollup extends GroupingStyle
  case object Cube extends GroupingStyle
  /** `group by grouping sets ((a,b),(a),())` — each inner list is one set. */
  final case class Sets(sets: List[List[Expr]]) extends GroupingStyle
}
final case class GroupByStyled(child: Relation, keys: List[SelectItem], style: GroupingStyle)
    extends UnaryRelation

/** `route { case cond -> target ... else -> target }` — pass-through for the
  * routing stage itself; consuming flow stages read it filtered by their case
  * (reference: flow routing, FlowExecutor.scala). `None` cond = else branch. */
final case class RouteRel(
    child: Relation,
    cases: List[(Option[Expr], String)],
    by: Option[Expr] = None // `route by hash(uid) { case 50 -> a … }` weights
) extends UnaryRelation
/** `fork { stage a = … stage b = … }` — parallel side branches (declarative;
  * reference flow-syntax.wv is parse-only: "execution support to be added"). */
final case class ForkRel(child: Relation, branches: List[(String, Relation)])
    extends UnaryRelation
/** Orchestration pipe ops inside flows: wait('10 ms') / activate('email', …)
  * / end() — identity on the data, side effects at execution. */
final case class OrchOp(child: Relation, kind: String, args: List[Expr])
    extends UnaryRelation
/** `run flow Name(args)` — executes the flow DAG, yields the run summary
  * relation (stage, state, attempts, error). */
final case class RunFlow(name: String, args: List[(Option[String], Expr)]) extends Relation

// ---------------------------------------------------------------------------
// Statements (top level)
// ---------------------------------------------------------------------------
sealed trait Statement extends Node
final case class QueryStatement(relation: Relation) extends Statement
/** `model name(params) = { query }` — compile-time expanded, CTE-like. */
final case class ModelDef(
    name: String,
    params: List[(String, Option[Expr])],
    body: Relation,
    /** rendered parameter signature, e.g. "bound:int" (show models). */
    paramSig: String = "",
    /** `--- … ---` doc block preceding the definition (show models). */
    doc: String = ""
)
    extends Statement
/** `val name = expr` — driver-side constant. */
final case class ValDef(name: String, expr: Expr) extends Statement
/** `def f(x, y) = expr` — scalar function, inlined at call sites by
  * substitution (reference: FunctionDef, plan.scala:62-117 +
  * FunctionInliner.scala). Callable as `f(a, b)` or method-style `a.f(b)`. */
final case class FuncDef(name: String, params: List[String], body: Expr) extends Statement
/** `def f[(params)] = where …` — partial query: a pipe-operator chain over
  * [[PipeInput]], applied by naming it in pipe position (args bind as vals). */
final case class PartialDef(name: String, params: List[String], body: Relation)
    extends Statement

/** Boolean condition over other stages' terminal states
  * (`a.failed or (b.done and c.done)`); state ∈ failed|done|success. */
sealed trait GateExpr
final case class GateAtom(stage: String, state: String) extends GateExpr
final case class GateAnd(l: GateExpr, r: GateExpr) extends GateExpr
final case class GateOr(l: GateExpr, r: GateExpr) extends GateExpr

/** One flow stage: `stage n [with {retries: 2, retry_delay: 10ms,
  * timeout: 30s, heartbeat: 5s}] [if <gate>] = <relation | merge a, b>`
  * (reference StageExecutionConfig, FlowExecutor.scala:52-63). */
final case class StageSpec(
    name: String,
    body: Either[List[String], Relation], // Left = merge fan-in, Right = relation
    retries: Int,
    retryDelayMs: Long,
    gate: Option[GateExpr],
    timeoutMs: Option[Long] = None,
    heartbeatMs: Option[Long] = None
)
/** `flow Name(params) [with {schedule: cron('…'), …}] [depends on Other]
  * [if Other.failed] = { stage* }` (reference: flow.scala FlowDef). Schedule
  * config / flow-level deps are declarative metadata — the scheduling engine
  * itself is out of scope (parse-only in the reference's specs too). */
final case class FlowDefStmt(
    name: String,
    params: List[(String, Option[Expr])],
    stages: List[StageSpec],
    config: List[(String, Expr)] = Nil,
    dependsOnFlow: Option[String] = None,
    flowGate: Option[(String, String)] = None
) extends Statement
/** `save to target [partition by c1, c2]` / `append to target` /
  * `insert into target` (reference: update.scala:37-94). */
final case class SaveTo(
    relation: Relation,
    target: String,
    append: Boolean,
    partitionBy: List[String] = Nil,
    /** `with k: 'v', …` writer options (reference: save-with-options.wv). */
    options: List[(String, String)] = Nil
) extends Statement
/** Terminal `delete` pipe operator: `from t where c delete` removes the
  * matched rows from the source table (reference: delete.wv/delete-all.wv;
  * Delete, update.scala:57). Only valid as a statement terminator. */
final case class DeleteRel(child: Relation) extends UnaryRelation
/** `delete from target where cond` — rows matching cond are removed in place
  * (reference: Delete, update.scala:57). */
final case class DeleteStmt(target: String, cond: Expr) extends Statement
/** `truncate [table] target` (reference: Truncate, update.scala:59). */
final case class TruncateStmt(target: String) extends Statement
/** First-class `alter table` (reference: AlterTable + AlterTableOps,
  * ddl.scala:68-121). Catalog-level ops map onto Spark DDL; column-shape
  * ops on plain parquet are read-transform-overwrite rewrites, the same
  * policy as delete/update. */
final case class AlterTableStmt(table: String, ifExists: Boolean, op: AlterOp)
    extends Statement
sealed trait AlterOp
final case class RenameTableTo(newName: String) extends AlterOp
final case class AddColumnOp(name: String, dataType: String, ifNotExists: Boolean)
    extends AlterOp
final case class DropColumnOp(name: String, ifExists: Boolean) extends AlterOp
final case class RenameColumnOp(oldName: String, newName: String) extends AlterOp
final case class SetColumnTypeOp(name: String, dataType: String) extends AlterOp
final case class SetPropertiesOp(props: List[(String, String)]) extends AlterOp
/** `execute sql"…"` — run a side-effecting SQL statement (DDL etc.). */
final case class ExecuteStmt(sql: String) extends Statement
/** `use catalog.schema` — switch the default schema (best-effort). */
final case class UseStmt(name: String) extends Statement
/** `update target set c = expr, … where cond` (reference: UpdateRows). */
final case class UpdateStmt(
    target: String,
    sets: List[(String, Expr)],
    cond: Option[Expr]
) extends Statement
/** `type name [in catalog.schema] = { field: type, … }` — schema-bound table
  * type (reference: TypeDef plan.scala:62-117; spec/basic/type-table-binding.wv).
  * Fields are declarative here (schemas resolve lazily from data); the
  * binding lets qualified/bare references resolve to the bound table. */
final case class TypeDefStmt(
    name: String,
    location: Option[String],
    fields: List[(String, String)],
    /** member `def name = expr` bodies (reference: sql-template methods in
      * `type … in <dialect> extends string` blocks, cdp_types.wv shape). */
    defs: List[(String, Expr)] = Nil,
    parent: Option[String] = None
) extends Statement
/** `package a.b` — namespace declaration; recorded, no execution effect. */
final case class PackageDecl(name: String) extends Statement
/** `import x.y` — type/module import; the repo resolves names lazily so the
  * statement is recorded only (reference: compilation-unit scoping). */
final case class ImportStmt(name: String) extends Statement
/** `merge into target using <source> on k1, k2 [when matched then
  * update|delete] [when not matched then insert]` — upsert by key columns
  * (reference: Merge/Upsert, update.scala:80-94, sqlPlan.scala:55-65). */
final case class MergeInto(
    target: String,
    source: Relation,
    keys: List[String],
    whenMatchedDelete: Boolean,
    notMatchedInsert: Boolean
) extends Statement
/** `create [or replace] table name [partitioned by (c1,…)] as <query>`
  * (reference: CreateTableAs, update.scala:63-78, relation.scala:283-303). */
final case class CreateTableAs(
    name: String,
    relation: Relation,
    orReplace: Boolean,
    partitionBy: List[String]
) extends Statement
