package graft.lang

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}
import graft.flow._

/** Executes language-level flow definitions (`flow F = { stage … }`) on the
  * [[graft.flow.FlowExecutor]] DAG engine, and renders the `run flow F(args)`
  * summary relation (stage, state, attempts, error) in declaration order —
  * pipeable like any other relation (reference: FlowExecutor.scala:52-134;
  * spec/basic/flow-run.wv).
  *
  * Semantics wired up here:
  *   - data deps: stage names referenced by `from`/joins in a stage body
  *   - `merge a, b` fan-in stages union their inputs by name
  *   - `stage f if other.failed` gates on terminal STATE (failed|done|success)
  *   - `route { case cond -> target … else -> t }` is a pass-through for the
  *     routing stage; consuming stages read it filtered by their case
  *   - `with { retries: n, retry_delay: d }` maps onto RetryPolicy
  *   - flow params bind positionally or by name, with declared defaults
  */
object FlowRunner {

  /** Jump-chain depth bound (reference FlowExecutorConfig.maxJumpDepth):
    * guards against `-> Flow` cycles (flow A -> B -> A). */
  private val MaxJumpDepth = 8

  /** Default liveness-lease duration of a running record (reference
    * FlowExecutorConfig.leaseTimeoutMillis); override per session with the
    * `graft.flow.leaseMs` conf. */
  private val DefaultLeaseMs = 60000L

  /** Shared daemon scheduler for lease refreshes (cheap timestamp writes). */
  private lazy val leaseRefresher: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, "graft-flow-lease"); t.setDaemon(true); t
        }
      })

  def run(
      fd: FlowDefStmt,
      args: List[(Option[String], Expr)],
      ctx: Lowering.Context,
      jumpDepth: Int = 0
  ): DataFrame = {
    val startedAt = System.currentTimeMillis()
    val schema = StructType(Seq(
      StructField("stage", StringType, nullable = false),
      StructField("state", StringType, nullable = false),
      StructField("attempts", IntegerType, nullable = false),
      StructField("error", StringType, nullable = true)))
    import scala.jdk.CollectionConverters._
    val store =
      try Some(FlowRunStore.forSession(ctx.spark))
      catch { case _: Throwable => None }
    val runId = f"${startedAt}%013d-${java.util.UUID.randomUUID().toString.take(8)}"

    def skipRun(reason: String): DataFrame = {
      val rows = fd.stages.map(sp => Row(sp.name, "skipped", 0, reason))
      store.foreach(_.save(FlowRunRecord(runId, fd.name, "skipped",
        startedAt, Some(System.currentTimeMillis()),
        rows.toList.map(r => StageRunRecord(
          r.getString(0), r.getString(1), r.getInt(2), Option(r.getString(3)))))))
      ctx.spark.createDataFrame(rows.asJava, schema)
    }

    // flow-level gate / dependency (reference cross-flow dependency
    // evaluation): `flow F if Other.failed` runs only when Other's latest
    // run is in the wanted state; `flow F depends on Other` requires
    // Other's latest run to have succeeded. A RUNNING record whose lease
    // expired reads as failed (crashed process).
    val now0 = System.currentTimeMillis()
    def latestStateOf(other: String): Option[String] =
      store.flatMap(_.latestRunOf(other)).map(_.effectiveState(now0))
    fd.flowGate.foreach { case (other, want) =>
      val st = latestStateOf(other)
      val met = want match {
        case "failed" => st.contains("failed")
        case "done" => st.exists(s => s == "success" || s == "failed" || s == "skipped")
        case _ => st.contains("success") // "success"
      }
      if (!met)
        return skipRun(s"gate not met: $other.${want} (latest: ${st.getOrElse("no runs")})")
    }
    fd.dependsOnFlow.foreach { other =>
      val st = latestStateOf(other)
      if (!st.contains("success"))
        return skipRun(s"dependency not met: $other (latest: ${st.getOrElse("no runs")})")
    }

    // flow-level `concurrency: N` (reference FlowExecutor: the executor
    // claims a run slot through the run store and records the run as
    // SKIPPED when the limit is already reached). Running records are
    // written at start (below) with a liveness lease, so concurrent runs
    // in other processes sharing the warehouse are visible here — and a
    // crashed process' stale record frees its slot when the lease expires.
    val limit = fd.config.collectFirst {
      case ("concurrency", LongLit(n)) => n.toInt
    }
    val runningNow = store.map(_.list().count(r =>
      r.flowName == fd.name && r.isLiveRunning(now0))).getOrElse(0)
    if (limit.exists(runningNow >= _))
      return skipRun(s"concurrency limit ${limit.get} reached")
    // claim the slot: a RUNNING record with a lease, overwritten with the
    // terminal state below (same runId — readers never see both); the
    // refresher re-stamps the lease while the flow executes
    val leaseMs = ctx.spark.conf.getOption("graft.flow.leaseMs")
      .flatMap(_.toLongOption).getOrElse(DefaultLeaseMs)
    def runningRecord(): FlowRunRecord = FlowRunRecord(runId, fd.name, "running",
      startedAt, None,
      fd.stages.toList.map(sp => StageRunRecord(sp.name, "running", 0, None)),
      leaseExpiresAtMillis = Some(System.currentTimeMillis() + leaseMs))
    store.foreach(_.save(runningRecord()))
    // The limit check above is check-then-claim: two concurrent claimants
    // can both count runningNow < limit and both save. NARROW the window by
    // re-listing AFTER our claim is visible — behind a settle delay so a
    // near-simultaneous claimant's save lands before either side lists —
    // and backing off (converting the claim to skipped) when over-claimed,
    // keeping the `limit` oldest claims by runId order (runIds are
    // timestamp-prefixed, so every claimant computes the same survivor
    // set). This is BEST-EFFORT, not an atomic semaphore: a claimant whose
    // re-list ran before the other's save became visible (skew beyond the
    // settle delay) still proceeds; closing it fully needs an atomic claim
    // primitive the file-backed store does not provide.
    limit.foreach { lim =>
      store.foreach { st =>
        Thread.sleep(ctx.spark.conf.getOption("graft.flow.claimSettleMs")
          .flatMap(_.toLongOption).getOrElse(100L))
        val live = st.list().filter(r =>
          r.flowName == fd.name && r.isLiveRunning(System.currentTimeMillis()))
        if (live.size > lim && !live.map(_.runId).sorted.take(lim).contains(runId))
          return skipRun(s"concurrency limit $lim reached (over-claim backoff)")
      }
    }
    // saveLock + terminal serialize the refresher's running-record writes
    // against the terminal save: without it, a refresh already in flight at
    // cancel time could write its 'running' record AFTER the terminal
    // record, leaving the run permanently 'running' (→ read as failed by
    // gates once the lease expires) even though it succeeded.
    val saveLock = new Object
    @volatile var terminal = false
    val refresh = store.map { st =>
      val period = math.max(1000L, leaseMs / 3)
      leaseRefresher.scheduleAtFixedRate(new Runnable {
        def run(): Unit =
          try saveLock.synchronized { if (!terminal) st.save(runningRecord()) }
          catch { case _: Throwable => () }
      }, period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    def saveTerminal(st: FlowRunStore, rec: FlowRunRecord): Unit =
      saveLock.synchronized { terminal = true; st.save(rec) }

    // snapshot the jump buffer so only THIS run's `-> Flow` markers fire
    val jumpsBefore = ctx.jumps.size
    val result =
      try FlowExecutor.run(toFlowDef(fd, args, ctx))
      catch {
        case e: Throwable =>
          refresh.foreach(_.cancel(false))
          // never leave a phantom running record behind a validation error
          store.foreach(st => saveTerminal(st, FlowRunRecord(runId, fd.name, "failed",
            startedAt, Some(System.currentTimeMillis()),
            List(StageRunRecord("__flow", "failed", 0,
              Some(String.valueOf(e.getMessage)))))))
          throw e
      }
      finally refresh.foreach(_.cancel(false))
    val rows = fd.stages.map { sp =>
      result.stages(sp.name) match {
        case StageSucceeded(_, n) => Row(sp.name, "success", n, null)
        case StageFailed(e, n) => Row(sp.name, "failed", n, String.valueOf(e.getMessage))
        case s: StageSkipped => Row(sp.name, "skipped", 0, s.failedDependency)
      }
    }
    // persist the attempt history (reference FlowRunStore): the record
    // survives a driver restart; `show flow_runs` reads it back. Optional
    // retention cap via the graft.flow.keepRuns session conf.
    try {
      store.foreach { st =>
        saveTerminal(st, FlowRunRecord(
          runId, fd.name,
          if (result.succeeded) "success" else "failed",
          startedAt, Some(System.currentTimeMillis()),
          rows.toList.map(r => StageRunRecord(
            r.getString(0), r.getString(1), r.getInt(2), Option(r.getString(3)),
            result.heartbeats.getOrElse(r.getString(0), Nil)))))
        ctx.spark.conf.getOption("graft.flow.keepRuns")
          .flatMap(_.toIntOption).foreach(st.retain)
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[flow] run record not persisted: ${e.getMessage}")
    }
    // `-> Flow` jumps: targets recorded by this run's stages trigger as NEW
    // runs after the current flow completed — but only when the jumping
    // stage SUCCEEDED: a stage whose body lowered (recording the jump) but
    // then failed during materialization must not transfer control
    // (reference FlowExecutor: control transfer only, cycle-bounded)
    val targets = ctx.jumps.synchronized {
      val t = ctx.jumps.drop(jumpsBefore).toList
      ctx.jumps.remove(jumpsBefore, ctx.jumps.size - jumpsBefore)
      t
    }.collect {
      case (stageOpt, t) if stageOpt.forall(sn =>
        result.stages.get(sn).exists(_.isInstanceOf[StageSucceeded])) => t
    }.distinct
    targets.foreach { t =>
      ctx.flows.get(t) match {
        case Some(next) if jumpDepth + 1 >= MaxJumpDepth =>
          System.err.println(
            s"[flow] jump chain exceeds depth $MaxJumpDepth at '${next.name}' — stopped")
        case Some(next) =>
          System.err.println(s"[flow] ${fd.name} -> ${next.name} (jump)")
          run(next, Nil, ctx, jumpDepth + 1)
        case None =>
          System.err.println(s"[flow] jump target '$t' is not a known flow — ignored")
      }
    }
    ctx.spark.createDataFrame(rows.asJava, schema)
  }

  /** Build the executable stage DAG for a flow (exposed so callers can run
    * it via FlowExecutor and inspect per-stage result DataFrames). */
  def toFlowDef(
      fd: FlowDefStmt,
      args: List[(Option[String], Expr)],
      ctx: Lowering.Context
  ): FlowDef = {
    val bound = bindArgs(fd, args)
    val ctx2 =
      if (bound.isEmpty) ctx
      else ctx.copy(vals = ctx.vals.clone() ++= bound)
    val stageNames = fd.stages.map(_.name).toSet
    val specByName = fd.stages.map(s => s.name -> s).toMap

    def routeFilter(provider: String, consumer: String, df: DataFrame): DataFrame =
      specByName(provider).body match {
        case Right(rel) =>
          topRoute(rel) match {
            case Some(cases) =>
              val ec = Lowering.ExprCtx(ctx2, aggMode = false, dfOpt = Some(df))
              def cond(e: Expr) = Lowering.expr(rewriteUnderscore(e), ec)
              cases.find(_._2 == consumer) match {
                case Some((Some(c), _)) => df.filter(cond(c))
                case Some((None, _)) =>
                  // else branch: rows matching no explicit case. NULL case
                  // conditions must fall through to else, so coalesce each to
                  // false before negating (NOT NULL would drop the row).
                  val explicit = cases.collect { case (Some(c), _) =>
                    F.coalesce(cond(c), F.lit(false))
                  }
                  if (explicit.isEmpty) df else df.filter(!explicit.reduce(_ || _))
                case None => df
              }
            case None => df
          }
        case Left(_) => df
      }

    val defs = fd.stages.map { sp =>
      val dataDeps = sp.body match {
        case Left(merges) => merges
        case Right(rel) => collectStageRefs(rel, stageNames).toList.sorted
      }
      StageDef(
        name = sp.name,
        run = inputs => {
          val resolver: String => DataFrame = name =>
            inputs.get(name) match {
              case Some(df) => routeFilter(name, sp.name, df)
              case None => ctx2.tableResolver(name)
            }
          // own model frames: stages resolve names to their own inputs and
          // may run concurrently
          val sctx = ctx2.copy(tableResolver = resolver, stageName = Some(sp.name),
            modelFrames = scala.collection.mutable.Map.empty)
          sp.body match {
            case Left(merges) =>
              merges.map(m => inputs(m)).reduce(_ unionByName _)
            case Right(rel) => Lowering.lower(rel, sctx)
          }
        },
        dependsOn = dataDeps,
        retry = RetryPolicy(
          maxAttempts = sp.retries + 1,
          initialBackoffMs = math.max(1L, sp.retryDelayMs)),
        gateDeps = sp.gate.map(gateAtoms).getOrElse(Nil).distinct,
        gate = sp.gate.map(g => (results: Map[String, StageResult]) => evalGate(g, results)),
        timeoutMs = sp.timeoutMs,
        heartbeatMs = sp.heartbeatMs
      )
    }

    FlowDef(fd.name, defs)
  }

  /** Register every flow carrying `with {schedule: cron('…')}` metadata on
    * the scheduler; each due fire runs the flow through [[run]]. Returns
    * the registered flow names. */
  def scheduleFlows(
      scheduler: FlowScheduler,
      ctx: Lowering.Context
  ): List[String] =
    ctx.flows.values.toList.sortBy(_.name).flatMap { fd =>
      fd.config.collectFirst {
        case ("schedule", FunctionCall("cron", List(StringLit(e)), _, _)) => e
        case ("schedule", StringLit(e)) => e
      }.map { cronExpr =>
        // flow-level `timezone: 'Asia/Tokyo'`: the cron fields evaluate in
        // the flow's own zone (reference ScheduledFlow config)
        val zone = fd.config.collectFirst {
          case ("timezone", StringLit(z)) => z
        }.flatMap(z =>
          try Some(java.time.ZoneId.of(z))
          catch {
            case _: Throwable =>
              System.err.println(s"[flow] ${fd.name}: unknown timezone '$z' — using scheduler default")
              None
          })
        scheduler.register(fd.name, cronExpr, () => { run(fd, Nil, ctx); () }, zone)
        fd.name
      }
    }

  private def gateAtoms(g: GateExpr): List[String] = g match {
    case GateAtom(s, _) => List(s)
    case GateAnd(l, r) => gateAtoms(l) ++ gateAtoms(r)
    case GateOr(l, r) => gateAtoms(l) ++ gateAtoms(r)
  }

  private def evalGate(g: GateExpr, results: Map[String, StageResult]): Boolean = g match {
    case GateAtom(s, want) =>
      results(s) match {
        case _: StageSucceeded => want == "success" || want == "done"
        case _: StageFailed => want == "failed" || want == "done"
        case _: StageSkipped => want == "done"
      }
    case GateAnd(l, r) => evalGate(l, results) && evalGate(r, results)
    case GateOr(l, r) => evalGate(l, results) || evalGate(r, results)
  }

  /** The route node terminating a stage's pipe chain, if any. */
  private def topRoute(r: Relation): Option[List[(Option[Expr], String)]] = r match {
    case RouteRel(_, cases, _) => Some(cases)
    case _ => None
  }

  private def rewriteUnderscore(e: Expr): Expr =
    Lowering.transformExpr(e) { case DotRef(Underscore, n) => Ident(n) }

  /** Stage names referenced anywhere in a stage body's relation tree,
    * INCLUDING relations inside expression subqueries (`where x in (from
    * other_stage …)`) — missing those would silently drop a DAG edge and
    * read a stale table instead. Generic product walk: every AST node is a
    * case class, so descending productIterator reaches TableRefs wherever
    * they nest (join sides, set-ops, In/Exists/scalar subquery bodies). */
  private def collectStageRefs(r: Relation, names: Set[String]): Set[String] = {
    val acc = Set.newBuilder[String]
    def walk(x: Any): Unit = x match {
      case TableRef(n) => if (names.contains(n)) acc += n
      case p: Product => p.productIterator.foreach(walk)
      case it: Iterable[_] => it.foreach(walk)
      case _ => ()
    }
    walk(r)
    acc.result()
  }

  private def bindArgs(
      fd: FlowDefStmt,
      args: List[(Option[String], Expr)]
  ): Map[String, Expr] = {
    val (named, positional) = args.partition(_._1.isDefined)
    if (positional.length > fd.params.length)
      throw new LoweringException(
        s"flow ${fd.name} takes ${fd.params.length} parameter(s), got ${args.length}")
    val byName = named.map { case (n, e) => n.get -> e }.toMap
    val unknown = byName.keySet -- fd.params.map(_._1).toSet
    if (unknown.nonEmpty)
      throw new LoweringException(
        s"flow ${fd.name}: unknown parameter(s) ${unknown.mkString(", ")}")
    fd.params.zipWithIndex.map { case ((pname, default), i) =>
      val v = byName.get(pname)
        .orElse(positional.lift(i).map(_._2))
        .orElse(default)
        .getOrElse(throw new LoweringException(
          s"flow ${fd.name}: missing argument for parameter '$pname'"))
      pname -> v
    }.toMap
  }
}
