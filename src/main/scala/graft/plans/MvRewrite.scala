package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias,
  Attribute,
  AttributeReference,
  Cast,
  Expression,
  Literal,
  NamedExpression
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression,
  Complete,
  Count,
  Max,
  Min,
  Sum
}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate,
  Filter,
  LogicalPlan,
  Project
}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation,
  LogicalRelation
}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}

/** §4/§8 Catalyst extension #2: MATERIALIZED-VIEW ROLLUP REWRITE
  * (aggregate navigation) — the warehouse-side dual of the staged ANN
  * index. A rollup MV stores partial aggregates of a source table at a
  * fine grain (dims + `cnt` + `sum_/min_/max_<measure>` columns,
  * staged once via [[graft.Stage]]); this rule rewrites any matching
  * aggregate over the SOURCE scan into a re-aggregation of the MV:
  *
  *   - `count(*)`  → `sum(cnt)`         - `sum(x)` → `sum(sum_x)`
  *   - `min(x)`    → `min(min_x)`       - `max(x)` → `max(max_x)`
  *
  * provided the query's GROUP BY columns are a subset of the MV's dims
  * (coarser grains roll up from finer ones — never the reverse) and
  * any residual Filter references dims only (the predicate transplants
  * onto the MV scan, where it prunes with full pushdown). Distinct
  * aggregates, expression-valued groupings, and non-decomposable
  * functions (percentiles) make the rule bail to the source plan — the
  * rewrite only fires when the rollup answer is EXACT: counts,
  * integral-valued sums, min/max are reassociation-safe, so the
  * rewritten query is hash-identical to the source aggregate (the
  * DuckDB oracle for `agg_rollup_mv` computes from source, proving
  * it). `avg(m)` rewrites to `sum(sum_m)/sum(cntnn_m)` ONLY for
  * measures the registrant declared integral-valued
  * ([[MvRewrite.MvDef.avgExact]]); float-valued avg keeps the bail.
  *
  * At 100 TB this is the difference between scanning the fact table
  * and scanning a table |dims-cross| rows long: the daily-grain
  * lineitem rollup is ~4 orders of magnitude smaller than its source,
  * and every dashboard-style aggregate at or above that grain serves
  * from it with no query change — the optimizer, not the analyst,
  * decides. Conf-gated (`spark.graft.mv.rewrite`) with an explicit
  * registry: an MV is declared for a source path, and freshness rides
  * the Stage fingerprint (a changed source file maps to a new staged
  * path at registration time, so the registry can never serve a stale
  * rollup for re-registered sources).
  */
object MvRewrite {
  val ConfKey = "spark.graft.mv.rewrite"

  /** When true, plain `EXPLAIN <query>` appends the MV-serve section
    * (see GraftViewParser's ExplainCommand hook) — the diagnosis
    * surfaces where users actually look, not only behind
    * CALL system.explain_mv_serve. */
  val ExplainConfKey = "spark.graft.mv.explain"

  /** A registered rollup MV for `sourcePath`: parquet at `mvPath` with
    * columns `dims ++ (cnt +: measures.flatMap(m => sum_m/min_m/max_m))`.
    *
    * `avgExact` lists measures the REGISTRANT declares integral-valued
    * (quantities, counts, cents): their double sums reassociate
    * exactly below 2^53, so `avg(m)` may rewrite to
    * `sum(sum_m) / sum(cntnn_m)` (the MV must then also carry the
    * non-null count `cntnn_m` — count(*) is the wrong denominator
    * under NULLs). An undeclared measure keeps the bail: avg over
    * genuinely fractional doubles is order-sensitive and the rewrite
    * only fires where the answer is provably exact. The declaration
    * carries the responsibility, exactly like a CHECK constraint. */
  case class MvDef(
      sourcePath: String,
      mvPath: String,
      dims: Seq[String],
      measures: Seq[String],
      avgExact: Seq[String] = Nil
  )

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  private def norm(p: String): String =
    p.stripPrefix("file:").replaceAll("/+$", "")

  private[plans] def samePath(a: String, b: String): Boolean =
    norm(a) == norm(b)

  /** Derived MV key grains the shape gate admits (round 15 extends the
    * round-14 day grain to the partition-transform surface): `to_date
    * (col)` (day), `trunc(to_date(col), 'month'|'year')` (month/year)
    * and `date_trunc('hour', col)` (hour). Each is recorded verbatim
    * in `mv_key_expr`; the serve rule matches the analyzer's catalyst
    * spelling of the SAME text, so the structural match can never
    * admit a different expression. */
  private[graft] val ToDateRe = """to_date\((\w+)\)""".r
  private[graft] val TruncDayRe =
    """trunc\(to_date\((\w+)\), '(\w+)'\)""".r
  private[graft] val DateTruncRe =
    """date_trunc\('(\w+)', (\w+)\)""".r

  /** Normalize a trunc/date_trunc level token to its grain — Spark
    * accepts synonyms (`MM`/`MON`/`MONTH`), and the query side may
    * spell a different synonym than the DDL recorded. */
  private[plans] def normLevel(s: String): Option[String] =
    s.toLowerCase match {
      case "year" | "yyyy" | "yy"  => Some("year")
      case "month" | "mon" | "mm"  => Some("month")
      case "hour"                  => Some("hour")
      case _                       => None
    }

  // ------------------------------------------------------------------
  // Serve-miss diagnostics (round 15): "why didn't my MV serve?" is
  // the first question every MV user asks, and the answer is buried
  // in a dozen silent bails. Every bail site reports through
  // [[diag]] — a ThreadLocal sink that costs NOTHING when no one is
  // listening (the message is by-name and never built during normal
  // optimization) — and [[explainServe]] runs the rewrite with the
  // sink armed and returns the per-candidate reasons, including the
  // remedy where one exists (REFRESH for staleness, re-materialize
  // for dim drift). Surfaced as CALL system.explain_mv_serve(query).
  // ------------------------------------------------------------------
  private val diagSink = new ThreadLocal[StringBuilder]

  /** Report a bail reason to the armed sink, if any. `msg` is by-name:
    * during normal optimization (sink unset) it is never evaluated,
    * so bail sites may freely interpolate watermark lookups etc. */
  private[plans] def diag(msg: => String): Unit = {
    val sb = diagSink.get()
    if (sb != null) sb.append(msg).append('\n')
  }

  /** Run the managed-MV rewrite over `df`'s optimized plan with the
    * diagnostic sink armed (conf gate bypassed — explain always
    * explains) and return one line per candidate-MV decision: a
    * `SERVED from <path>` line when a rewrite fired, otherwise each
    * candidate's bail reason with its remedy. */
  def explainServe(
      spark: SparkSession,
      df: org.apache.spark.sql.DataFrame
  ): Seq[String] = {
    // force optimization BEFORE arming the sink, with the conf gate
    // held OFF: when the rewrite conf is on, the rule would otherwise
    // run inside this optimization too — emitting every bail twice
    // (advisor, round 15) and, worse, leaving an already-SERVED plan
    // in which applyAlways finds no source aggregate to explain.
    val prevConf = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, "false")
    val optimized =
      try df.queryExecution.optimizedPlan
      finally prevConf match {
        case Some(v) => spark.conf.set(ConfKey, v)
        case None    => spark.conf.unset(ConfKey)
      }
    val sb = new StringBuilder
    diagSink.set(sb)
    try {
      MvRollupRewriteRule(spark).applyAlways(optimized)
      val lines = sb.toString.split('\n').filter(_.nonEmpty).toSeq
      if (lines.isEmpty)
        Seq("no aggregate over a snapshot scan with candidate MVs " +
          "(mv_refs) in this plan — nothing a materialized view could serve")
      else lines
    } finally diagSink.remove()
  }

  def register(mv: MvDef): Unit = registry.put(norm(mv.sourcePath), mv)

  def lookup(sourcePath: String): Option[MvDef] =
    Option(registry.get(norm(sourcePath)))

  /** True iff the plan scans files under `tablePath` — the fired/
    * bailed probe for the MANAGED-MV serve path (the snapshot read
    * plans the MV's manifest files as a parquet relation, so the MV
    * table's directory prefixes every root path). */
  def readsPath(plan: LogicalPlan, tablePath: String): Boolean = {
    val p = norm(tablePath)
    plan.collectFirst {
      case rel: LogicalRelation
          if rel.relation.isInstanceOf[HadoopFsRelation] &&
            rel.relation.asInstanceOf[HadoopFsRelation]
              .location.rootPaths.exists { rp =>
                val n = norm(rp.toString)
                n == p || n.startsWith(p + "/")
              } =>
        rel
    }.isDefined
  }

  /** True iff the plan scans a registered MV path — the fired/bailed
    * probe the eager key and the plan pins assert on. */
  def readsMv(plan: LogicalPlan): Boolean = {
    val mvPaths = {
      import scala.jdk.CollectionConverters._
      registry.values().asScala.map(d => norm(d.mvPath)).toSet
    }
    plan
      .collectFirst {
        case rel: LogicalRelation
            if rel.relation.isInstanceOf[HadoopFsRelation] &&
              rel.relation
                .asInstanceOf[HadoopFsRelation]
                .location
                .rootPaths
                .exists(p => mvPaths(norm(p.toString))) =>
          rel
      }
      .isDefined
  }

  /** Runtime injection (idempotent), same contract as
    * [[AnnIvfRewrite.install]]. */
  def install(spark: SparkSession): Unit = {
    val em = spark.sessionState.experimentalMethods
    if (!em.extraOptimizations.exists(_.isInstanceOf[MvRollupRewriteRule]))
      em.extraOptimizations = em.extraOptimizations :+ MvRollupRewriteRule(spark)
  }
}

case class MvRollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption(MvRewrite.ConfKey).contains("true")

  /** Strips attribute-only Projects and at most one Filter above a
    * file-source scan of a registered path, returning the residual
    * condition and the MV definition. */
  private def sourceOf(
      plan: LogicalPlan
  ): Option[(Option[Expression], MvRewrite.MvDef)] = plan match {
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      sourceOf(child)
    case Filter(cond, child) =>
      // one residual filter max; nested filters collapse earlier in
      // optimization, so a second one means a shape we don't claim
      sourceOf(child).collect { case (None, mv) => (Some(cond), mv) }
    case rel: LogicalRelation =>
      rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths
            .flatMap(p => MvRewrite.lookup(p.toString))
            .headOption
            .map(mv => (None, mv))
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    applyAlways(plan)
  }

  /** The rewrite without the conf gate — [[MvRewrite.explainServe]]
    * uses it so an explain always explains. The legacy registry path
    * gets the same crash-to-diag posture as the managed one (round
    * 17): a registry entry whose parquet path was dropped out of band
    * would otherwise fail the USER's query from inside an optimizer
    * rule. */
  private[plans] def applyAlways(plan: LogicalPlan): LogicalPlan =
    plan.transformDown { case agg @ Aggregate(_, _, _, _) =>
      (try rewrite(agg)
       catch {
         case scala.util.control.NonFatal(t) =>
           MvRewrite.diag(s"registry serve attempt crashed: " +
             s"${t.getClass.getSimpleName}: ${t.getMessage}")
           None
       })
        .orElse(rewriteManaged(agg)).getOrElse(agg)
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] =
    for {
      (condOpt, mv) <- sourceOf(agg.child)
      dimNames = mv.dims.toSet
      // every grouping expression a bare dim attribute
      groupAttrs <- seqOpt(agg.groupingExpressions.map {
        case a: AttributeReference if dimNames(a.name) => Some(a)
        case _                                         => None
      })
      // residual predicate touches dims only — measures' row-level
      // values no longer exist in the rollup. It must also be
      // DETERMINISTIC and subquery-free: a `rand() < 0.5` predicate has
      // an EMPTY reference set (the dims-only check alone passes it!)
      // yet evaluates once per MV GROUP row instead of once per source
      // row — wrong results, not just a bad plan (advisor, round 14)
      if condOpt.forall(c =>
        c.deterministic &&
          !c.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) &&
          c.references.forall(a => dimNames(a.name)))
      mvPlan = spark.read.parquet(mv.mvPath).queryExecution.analyzed
      mvAttr = mvPlan.output.map(a => a.name -> a).toMap
      // all MV columns the mapping can target must exist
      if mv.dims.forall(mvAttr.contains) && mvAttr.contains("cnt")
      // each source dim the rewrite replaces, as an MV expression of
      // the source attribute's type
      dimExpr <- seqOpt(
        (agg.aggregateExpressions.collect {
          case a: AttributeReference if dimNames(a.name) => a
        } ++ groupAttrs ++ condOpt.toSeq.flatMap(_.references)).map(a =>
          asSourceType(mvAttr(a.name), a.dataType).map(a.exprId -> _)))
        .map(_.toMap)
      newAggExprs <- seqOpt(agg.aggregateExpressions.map {
        case a: AttributeReference if dimNames(a.name) =>
          Some(Alias(dimExpr(a.exprId), a.name)(exprId = a.exprId))
        case al @ Alias(
              AggregateExpression(fn, Complete, false, None, _),
              name
            ) =>
          val merged: Option[Expression] = fn match {
            case c: Count if c.children == Seq(Literal(1)) =>
              Some(Sum(mvAttr("cnt")).toAggregateExpression())
            case Sum(x: AttributeReference, _)
                if mvAttr.contains(s"sum_${x.name}") =>
              Some(Sum(mvAttr(s"sum_${x.name}")).toAggregateExpression())
            case Min(x: AttributeReference)
                if mvAttr.contains(s"min_${x.name}") =>
              Some(Min(mvAttr(s"min_${x.name}")).toAggregateExpression())
            case Max(x: AttributeReference)
                if mvAttr.contains(s"max_${x.name}") =>
              Some(Max(mvAttr(s"max_${x.name}")).toAggregateExpression())
            // avg ONLY over a measure the registrant DECLARED
            // integral-valued (see MvDef.avgExact): the exact sum over
            // the partials divided by the exact non-null count — the
            // same double any evaluation order produces below 2^53.
            // cntnn_m, not cnt, is the denominator: avg ignores NULLs.
            case org.apache.spark.sql.catalyst.expressions.aggregate
                  .Average(x: AttributeReference, _)
                if mv.avgExact.contains(x.name) &&
                  // the rewrite produces DoubleType; only measure types
                  // whose Average is ALSO DoubleType may fire (a decimal
                  // measure's avg is DecimalType — a declared one bails
                  // rather than silently changing the schema)
                  (x.dataType == org.apache.spark.sql.types.LongType ||
                    x.dataType == org.apache.spark.sql.types.IntegerType ||
                    x.dataType == org.apache.spark.sql.types.DoubleType ||
                    x.dataType == org.apache.spark.sql.types.FloatType) &&
                  mvAttr.contains(s"sum_${x.name}") &&
                  mvAttr.contains(s"cntnn_${x.name}") =>
              import org.apache.spark.sql.catalyst.expressions.Divide
              import org.apache.spark.sql.types.DoubleType
              Some(Divide(
                Cast(
                  Sum(mvAttr(s"sum_${x.name}")).toAggregateExpression(),
                  DoubleType),
                Cast(
                  Sum(mvAttr(s"cntnn_${x.name}")).toAggregateExpression(),
                  DoubleType)))
            case _ => None
          }
          merged.map(m => Alias(m, name)(exprId = al.exprId))
        case _ => None
      })
    } yield {
      val scan = condOpt match {
        case Some(cond) =>
          Filter(
            cond.transformUp { case a: AttributeReference => dimExpr(a.exprId) },
            mvPlan
          )
        case None => mvPlan
      }
      Aggregate(groupAttrs.map(a => mvAttr(a.name)), newAggExprs, scan)
    }

  /** The MV column `col` read as `want`, the type the source plan has
    * for the dim it replaces. A loader can normalize a column's type
    * (`Tables.lineitem` reads a session-TIMESTAMP `l_shipdate` as
    * TIMESTAMP_NTZ, and the MV is built from that frame). The optimizer
    * then unwraps the loader's cast onto the literal of a filter, so the
    * source side compares the raw file type while the MV holds the
    * normalized one; transplanting the bare MV column would leave an
    * ill-typed, unresolved condition inside the optimizer. Between the
    * two timestamp types the cast is a bijection under a fixed-offset
    * session zone, so groups and filters stay exact; any other type
    * difference bails. */
  private def asSourceType(col: Attribute, want: DataType): Option[Expression] =
    (col.dataType, want) match {
      case (have, _) if have == want => Some(col)
      case (TimestampType, TimestampNTZType) | (TimestampNTZType, TimestampType) =>
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        if (java.time.ZoneId.of(tz).getRules.isFixedOffset) Some(Cast(col, want, Some(tz)))
        else None
      case _ => None
    }

  private def seqOpt[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  // ------------------------------------------------------------------
  // MANAGED-MV serving (round 14): aggregate navigation over the
  // snapshot catalog's refresh-maintained MVs (sql_mv_* family). The
  // two halves of the warehouse story compose here: refreshMv keeps
  // the rollup exact at a committed watermark, and this match serves
  // `SELECT k, sum(m) FROM src GROUP BY k` from it — a pure O(keys)
  // MV scan with NO aggregate at all (the MV is already at key grain),
  // instead of a 100 TB source scan + shuffle. Freshness is the gate:
  // the MV's committed `mvv` watermark must equal the EXACT snapshot
  // version the scanned relation pinned at analysis (tip reads and
  // VERSION AS OF alike) — a stale or ahead MV bails to the source
  // plan, correctness before speed. Discovery is the source table's
  // `mv_refs` reverse pointer (one props read), each ref re-verified
  // against the MV's own props before it may serve.
  // ------------------------------------------------------------------

  import org.apache.spark.sql.execution.datasources.v2.{
    DataSourceV2Relation,
    DataSourceV2ScanRelation
  }

  /** Strips attribute-only Projects and at most one Filter above a
    * DSv2 scan of a snapshot-catalog table, returning (residual
    * condition, table path, pinned snapshot version). Both the
    * pre-pushdown relation and the post-pushdown ScanRelation match —
    * extraOptimizations run after V2ScanRelationPushDown, and our
    * builder keeps every pushed filter residual in the plan, so no
    * predicate can hide inside the scan. */
  private def managedSourceOf(
      plan: LogicalPlan
  ): Option[(Option[Expression], String, Int)] = plan match {
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      managedSourceOf(child)
    case Filter(cond, child) =>
      managedSourceOf(child).collect { case (None, p, v) => (Some(cond), p, v) }
    case r: DataSourceV2Relation     => snapshotTableOf(r.table)
    case s: DataSourceV2ScanRelation => snapshotTableOf(s.relation.table)
    case _                           => None
  }

  private def snapshotTableOf(
      t: org.apache.spark.sql.connector.catalog.Table
  ): Option[(Option[Expression], String, Int)] = t match {
    case st: graft.sources.SnapshotSqlTable =>
      scala.util.Try(st.version().toInt).toOption.map(v => (None, st.path, v))
    case _ => None
  }

  /** PullOutGroupingExpressions rewrites `GROUP BY to_date(ts)` into
    * a Project computing `_groupingexpression = cast(ts as date)`
    * under the Aggregate — inline such aliases back so the derived-key
    * match sees the expression itself. Only deterministic aliases
    * inline; anything else leaves the plan untouched (and the
    * attribute-only stripper then bails as before). */
  private def inlineGroupingProject(agg: Aggregate): Aggregate =
    agg.child match {
      case Project(pl, c)
          if pl.exists(!_.isInstanceOf[AttributeReference]) &&
            pl.forall {
              case _: AttributeReference => true
              case al: Alias             => al.child.deterministic
              case _                     => false
            } =>
        val aliasMap: Map[Long, Expression] = pl.collect {
          case al: Alias => al.exprId.id -> al.child
        }.toMap
        def subst(e: Expression): Expression = e.transformUp {
          case a: AttributeReference if aliasMap.contains(a.exprId.id) =>
            aliasMap(a.exprId.id)
        }
        // a pulled-out grouping attr can sit BARE in the output (the
        // query aliased nothing) — re-wrap it so the output stays named
        def substNamed(ne: NamedExpression): NamedExpression = ne match {
          case a: AttributeReference if aliasMap.contains(a.exprId.id) =>
            Alias(aliasMap(a.exprId.id), a.name)(exprId = a.exprId)
          case other => subst(other).asInstanceOf[NamedExpression]
        }
        Aggregate(
          agg.groupingExpressions.map(subst),
          agg.aggregateExpressions.map(substNamed),
          c)
      case _ => agg
    }

  /** One dim of the query-side join context: dim table path + the
    * exact version the query pinned, and the fk/pk column names of
    * its equi-join edge. */
  private case class DimLink(
      dimPath: String,
      dimV: Int,
      fkName: String,
      pkName: String
  )

  /** The query-side join context the serve rule verified against a
    * candidate MV's recorded join(s): one [[DimLink]] per join edge
    * (round 16 generalizes the single dim to a star/snowflake LIST,
    * recorded order), and the FACT side's output exprIds — the
    * measure match must resolve against these (advisor, round 15: a
    * dim column sharing a fact measure's NAME would otherwise pass
    * the name-only gate and be silently served the fact partial —
    * wrong results; createJoinMv now also refuses the collision at
    * declaration time, but the exprId check covers MVs created
    * before that guard). */
  private case class JoinProbe(
      dims: Seq[DimLink],
      factOut: Set[Long],
      // one type per join edge, aligned with `dims` (round 18: mixed
      // inner/left chains record and verify PER-EDGE types)
      joinTypes: Seq[String] // "inner" | "left"
  )

  private def mvRefsOf(srcPath: String): Seq[String] =
    scala.util
      .Try(graft.sources.SnapshotLog.tableProps(spark, srcPath))
      .toOption.flatMap(_.get("mv_refs")).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty)

  /** serveManaged, crash-proofed: an optimizer rule must never break
    * the query, but a Throwable out of the serve path used to vanish
    * behind `Try(...).toOption` — a genuine serve-rule bug degraded to
    * a silent non-serve with NOTHING in explain_mv_serve (round-16
    * advisor). Route it into the diagnostic sink instead: the query
    * still runs unrewritten, and the explain names the crash. */
  private def tryServe(
      agg: Aggregate,
      condOpt: Option[Expression],
      srcPath: String,
      srcVersion: Int,
      mvPath: String,
      probe: Option[JoinProbe]
  ): Option[LogicalPlan] =
    try serveManaged(agg, condOpt, srcPath, srcVersion, mvPath, probe)
    catch {
      case scala.util.control.NonFatal(t) =>
        MvRewrite.diag(s"$mvPath: serve attempt crashed: " +
          s"${t.getClass.getSimpleName}: ${t.getMessage}")
        None
    }

  /** Stored LIVE row count of an MV at the version a probe pinned at
    * `srcVersion` would actually serve — the candidate-ranking
    * currency (round 17; round 18 makes it HISTORICAL-AWARE, r17
    * verdict #6): among several ADMISSIBLE MVs the smallest one wins,
    * so a monthly dashboard with both a daily and a monthly rollup
    * registered re-aggregates ~months rows, not ~days — at 100 TB
    * the difference between a 12-row scan and a million-row one. For
    * a `VERSION AS OF` query the ranked size is the count at the MV
    * version whose mvv watermark folds that source version (the one
    * serveManaged will read), falling back to the tip when no ledger
    * entry matches (the candidate will bail STALE anyway, so its
    * rank is moot). Manifest `_rc`/`_dvc` riders make this
    * O(manifest) driver metadata, zero file opens; an MV with any
    * pre-rider file (unknown size) ranks after every known one but
    * still serves when it is the only candidate. */
  private def storedRows(
      mvPath: String,
      srcVersion: Int,
      // the probe's pinned dim versions BY PATH (join/star candidates
      // only; None for plain serves) — round 19, closing the r18
      // addendum-#4 probe-6 approximation: under a dim-refresh STACK
      // several MV versions share one mvv watermark, and the version a
      // query pinned at OLD dim pins actually serves may be an older,
      // differently-sized one than the newest span. Rank by the
      // version the pins resolve — the same selection serveManaged
      // makes — so a stacked ledger can no longer invert the ranking.
      wantDimPins: Option[Map[String, Int]]
  ): Long =
    scala.util.Try {
      val tip = graft.sources.SnapshotLog.versions(spark, mvPath).last
      // watermarks are MONOTONE (a refresh only folds forward), so the
      // tip watermark classifies the probe with one or two header
      // reads: equal → the tip serves; BEHIND the probe (a stale MV —
      // the normal state between refreshes) → NO version can fold the
      // probe, skip the ledger walk entirely (the candidate bails
      // STALE in serveManaged anyway, its rank is moot); AHEAD →
      // genuine time travel, pay the backward walk for the resolved
      // version. Without this gate a stale candidate cost
      // O(MV versions) header reads on EVERY aggregate planned over
      // the source (round-18 review finding).
      val tipWm = graft.sources.SnapshotLog
        .committedWatermark(spark, mvPath, "mvv")
      val v0 = tipWm match {
        case Some(w) if w <= srcVersion => tip
        case Some(_) =>
          graft.sources.SnapshotLog
            .versionAtWatermark(spark, mvPath, "mvv", srcVersion)
            .getOrElse(tip)
        case None => tip
      }
      // refine within the watermark span by the probe's dim pins —
      // one effectiveDimVersions read in the common case (pins match
      // at the span head); only a genuine stack pays the walk. The
      // want list is assembled in the MV's own recorded dim order; a
      // probe that doesn't cover every recorded dim keeps the span
      // head (the candidate will bail on shape anyway).
      val v = wantDimPins match {
        case Some(byPath) =>
          val rDims = graft.sources.SnapshotLog.tableProps(spark, mvPath)
            .get("mv_join_dim")
            .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
          val want: Option[Seq[Int]] =
            if (rDims.isEmpty) None
            else {
              val ws = rDims.map(d => byPath.collectFirst {
                case (p, w) if MvRewrite.samePath(p, d) => w
              })
              if (ws.forall(_.isDefined)) Some(ws.map(_.get)) else None
            }
          want match {
            case Some(w) =>
              def pinsAt(x: Int): Seq[Int] = graft.sources.SnapshotLog
                .effectiveDimVersions(spark, mvPath, Some(x))
                .getOrElse(Nil)
              if (pinsAt(v0) == w) v0
              else graft.sources.SnapshotLog
                .versionsAtWatermark(spark, mvPath, "mvv", srcVersion)
                .find(x => x != v0 && pinsAt(x) == w)
                .getOrElse(v0)
            case None => v0
          }
        case None => v0
      }
      val counts = graft.sources.SnapshotLog.liveRowCounts(spark, mvPath, v)
      if (counts.exists(_._2.isEmpty)) Long.MaxValue
      else counts.map(_._2.get).sum
    }.getOrElse(Long.MaxValue)

  /** Pick the cheapest ADMISSIBLE candidate: rank by stored rows at
    * the probe's resolved version FIRST (one manifest metadata read
    * per candidate, path as the deterministic tiebreak), then
    * evaluate cheapest-first and STOP at the first admissible plan —
    * it is the cheapest admissible by construction, and the larger
    * candidates are never even verified (evaluating every candidate
    * was planning-time O(candidates) metadata work on every
    * aggregate over the source). The diag names the choice, the
    * cheaper candidates that failed (their own bail lines precede
    * it), and the larger ones never tried. One candidate skips the
    * ranking walk entirely. Candidates carry the probe's pinned
    * source version so time-travel queries rank by the sizes they
    * would actually read. */
  private def pickCheapest(
      cands: Seq[(String, Int, Option[Map[String, Int]],
        () => Option[LogicalPlan])]
  ): Option[LogicalPlan] = cands match {
    case Seq()                => None
    case Seq((_, _, _, only)) => only()
    case many =>
      val ranked = many
        .map { case (p, sv, pins, thunk) =>
          (p, thunk, storedRows(p, sv, pins))
        }
        .sortBy(t => (t._3, t._1))
      ranked.iterator.zipWithIndex
        .map { case ((p, thunk, rows), i) =>
          thunk().map { plan =>
            val rowsTxt =
              if (rows == Long.MaxValue) "unknown" else rows.toString
            val skipped = ranked.drop(i + 1)
            MvRewrite.diag(s"chose $p ($rowsTxt stored rows)" +
              (if (skipped.isEmpty) ""
               else "; larger candidates not evaluated: " +
                 skipped.map { case (q, _, r) =>
                   s"$q (${if (r == Long.MaxValue) "unknown" else r.toString} rows)"
                 }.mkString(", ")))
            plan
          }
        }
        .collectFirst { case Some(plan) => plan }
  }

  private def rewriteManaged(agg0: Aggregate): Option[LogicalPlan] = {
    val agg = inlineGroupingProject(agg0)
    // round 17: rank registered candidates by stored rows and take
    // the cheapest ADMISSIBLE one — headOption took mv_refs
    // registration order, serving a monthly query from the daily MV
    // whenever the daily registered first.
    val plain = for {
      (condOpt, srcPath, srcVersion) <- managedSourceOf(agg.child)
      plan <- pickCheapest(mvRefsOf(srcPath).map { mvPath =>
        (mvPath, srcVersion, None, () =>
          tryServe(agg, condOpt, srcPath, srcVersion, mvPath, None))
      })
    } yield plan
    plain
      .orElse(rewriteManagedJoin(agg))
      .orElse(rewriteManagedStar(agg))
  }

  // ------------------------------------------------------------------
  // JOIN-MV serving (round 15): `SELECT d.attr, agg(f.m) FROM fact f
  // JOIN dim d ON f.fk = d.pk GROUP BY d.attr` — the star-schema
  // dashboard — serves from a createJoinMv rollup. The match is
  // deliberately narrow and every piece verifies against the MV's
  // recorded join: one INNER equi-join on a single column pair, fact
  // and dim both snapshot scans, the dim pinned at EXACTLY the MV's
  // recorded mv_dim_version and the fact at the MV's fold watermark.
  // The inner join implies isnotnull on both join keys, so those
  // optimizer-inferred atoms are discarded; any OTHER fact-side
  // residual bails (measure-level predicates are unanswerable from a
  // rollup), and dim-side residuals transplant through the same
  // key-shaped/deterministic gate as every other serve.
  // ------------------------------------------------------------------

  private case class JoinMatch(
      topCond: Option[Expression],
      leftCond: Option[Expression],
      leftPath: String,
      leftV: Int,
      leftKey: AttributeReference,
      leftOut: Set[Long],
      rightCond: Option[Expression],
      rightPath: String,
      rightV: Int,
      rightKey: AttributeReference,
      rightOut: Set[Long],
      joinType: String // "inner" | "left" (fact = LEFT side for left)
  )

  private def managedJoinOf(plan: LogicalPlan): Option[JoinMatch] = {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    plan match {
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        managedJoinOf(child)
      case Filter(cond, child) =>
        managedJoinOf(child).collect {
          case jm if jm.topCond.isEmpty => jm.copy(topCond = Some(cond))
        }
      case Join(l, r, jt,
            Some(EqualTo(a: AttributeReference, b: AttributeReference)), _)
          if jt == Inner || jt == LeftOuter =>
        for {
          (lc, lp, lv) <- managedSourceOf(l)
          (rc, rp, rv) <- managedSourceOf(r)
          keys <-
            if (l.outputSet.contains(a) && r.outputSet.contains(b))
              Some((a, b))
            else if (l.outputSet.contains(b) && r.outputSet.contains(a))
              Some((b, a))
            else None
        } yield JoinMatch(
          None, lc, lp, lv, keys._1, l.outputSet.map(_.exprId.id).toSet,
          rc, rp, rv, keys._2, r.outputSet.map(_.exprId.id).toSet,
          if (jt == LeftOuter) "left" else "inner")
      case _ => None
    }
  }

  /** Drop `isnotnull(<joinKey>)` conjuncts (implied by the inner
    * join — the MV's rollup never contained a NULL-key row) and
    * return whatever remains, None when nothing does. */
  private def stripJoinNotNull(
      cond: Option[Expression],
      joinKey: AttributeReference
  ): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, IsNotNull}
    def atoms(e: Expression): Seq[Expression] = e match {
      case And(x, y) => atoms(x) ++ atoms(y)
      case x         => Seq(x)
    }
    cond
      .map(atoms(_).filterNot {
        case IsNotNull(x: AttributeReference) => x.exprId == joinKey.exprId
        case _                                => false
      })
      .filter(_.nonEmpty)
      .map(_.reduce(And(_, _)))
  }

  private def rewriteManagedJoin(agg: Aggregate): Option[LogicalPlan] =
    managedJoinOf(agg.child).flatMap { jm =>
      import org.apache.spark.sql.catalyst.expressions.And
      // try both orientations — the user may write fact JOIN dim or
      // dim JOIN fact; the MV's recorded (source, dim, fk, pk) decides.
      // A LEFT OUTER join is direction-SENSITIVE: the preserved side
      // is the fact, so only the fact-on-the-left orientation exists.
      val orientations =
        if (jm.joinType == "left")
          Seq(
            (jm.leftPath, jm.leftV, jm.leftCond, jm.leftKey, jm.leftOut,
              jm.rightPath, jm.rightV, jm.rightCond, jm.rightKey))
        else Seq(
          (jm.leftPath, jm.leftV, jm.leftCond, jm.leftKey, jm.leftOut,
            jm.rightPath, jm.rightV, jm.rightCond, jm.rightKey),
          (jm.rightPath, jm.rightV, jm.rightCond, jm.rightKey, jm.rightOut,
            jm.leftPath, jm.leftV, jm.leftCond, jm.leftKey))
      pickCheapest(orientations.flatMap {
        case (fp, fv, fc, fkA, fOut, dp, dv, dc, pkA) =>
          // fact side: for an INNER probe the ONLY tolerable residual
          // is the inferred isnotnull(fk) — implied by the join, so
          // stripping it is sound. For a LEFT probe NOTHING strips:
          // isnotnull(fk) is NOT implied there (NULL-fk rows live in
          // the NULL bucket), so a user-written one is a real
          // predicate the rollup cannot answer. Anything else
          // references measure-level values the rollup no longer has.
          // A DIM-SIDE leaf predicate under a LEFT probe refuses too
          // (round 17, self-review — silent wrong answers since r16):
          // a pre-join dim filter moves its non-matches INTO the
          // query's NULL bucket, which the MV — folded against the
          // UNFILTERED dim — does not reflect; transplanting it onto
          // the rollup dropped the bucket entirely. (Null-rejecting
          // dim filters ABOVE the join never reach here: the
          // optimizer rewrites the join to inner first.)
          if (jm.joinType == "left" && (fc.nonEmpty || dc.nonEmpty)) Nil
          else if (stripJoinNotNull(fc, fkA).nonEmpty) Nil
          else {
            val dimCond = (stripJoinNotNull(dc, pkA), jm.topCond) match {
              case (Some(x), Some(y)) => Some(And(x, y))
              case (x, y)             => x.orElse(y)
            }
            mvRefsOf(fp).map { mvPath =>
              (mvPath, fv, Some(Map(dp -> dv)), () =>
                tryServe(
                  agg, dimCond, fp, fv, mvPath,
                  Some(JoinProbe(
                    Seq(DimLink(dp, dv, fkA.name, pkA.name)), fOut,
                    Seq(jm.joinType)))))
            }
          }
      })
    }

  // ------------------------------------------------------------------
  // STAR / SNOWFLAKE MV serving (round 16): `SELECT d2.attr, agg(f.m)
  // FROM f JOIN d1 ON f.fk1 = d1.pk1 JOIN d2 ON <fk2> = d2.pk2 GROUP
  // BY ...` — two or more INNER equi-joins, every leaf a snapshot
  // scan — serves from a multi-dim createJoinMv rollup. fk2 may live
  // on the fact (star) or on d1 (snowflake: orders→customer→nation);
  // the matcher is tree-shape-agnostic (ReorderJoin may rebalance the
  // join order), matching the LEAF SET and the EDGE SET against the
  // MV's recorded lists instead of the tree. Inner-only by
  // construction (multi-dim left MVs are refused at create).
  // ------------------------------------------------------------------

  private case class StarLeaf(
      cond: Option[Expression],
      path: String,
      v: Int,
      out: org.apache.spark.sql.catalyst.expressions.AttributeSet
  )

  private case class StarMatch(
      conds: Seq[Expression], // Filters above joins (cross-leaf residuals)
      leaves: Seq[StarLeaf],
      // each edge carries its OWN join type (round 18: mixed chains
      // match per edge against the MV's recorded per-edge types)
      edges: Seq[(AttributeReference, AttributeReference, String)],
      // leaf indices that are the single right side of a LEFT join —
      // the preserved chain is on the left, so these can never be the
      // fact leaf
      leftDimLeaves: Set[Int]
  )

  /** Collect a tree of single-column equi-joins whose leaves are all
    * managed snapshot scans — INNER joins in any tree shape
    * (ReorderJoin may rebalance), LEFT OUTER joins only in the
    * left-deep parser shape with a single dim on each right side
    * (left joins are not reordered, and the preserved side must stay
    * the fact chain). Round 18: inner and left edges MIX in one tree
    * — each edge records its own type and the alignment below
    * verifies it against the MV's recorded per-edge list. None for
    * any other shape — the matcher only claims what the
    * recorded-list alignment can verify exactly. */
  private def managedStarOf(plan: LogicalPlan): Option[StarMatch] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def atoms(e: Expression): Seq[Expression] = e match {
      case And(x, y) => atoms(x) ++ atoms(y)
      case x         => Seq(x)
    }
    plan match {
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        managedStarOf(child)
      case Filter(cond, child) =>
        managedStarOf(child).map { sm =>
          // a filter directly above a BARE LEAF is that leaf's OWN
          // pre-join predicate — folding it into `conds` instead
          // (round 16/17 did) mislabels it as a post-join residual,
          // which transplants where a left-edge dim predicate must
          // REFUSE (it changes NULL-bucket membership; the round-18
          // mixed-star bail matrix caught this as live wrong answers
          // at the injected optimizer position, where the filter has
          // not yet been pushed into the scan node). Only a filter
          // above a JOIN is a cross-leaf residual.
          if (sm.leaves.size == 1 && sm.edges.isEmpty) {
            val l = sm.leaves.head
            val merged = l.cond
              .map(c => org.apache.spark.sql.catalyst.expressions
                .And(cond, c))
              .orElse(Some(cond))
            sm.copy(leaves = Seq(l.copy(cond = merged)))
          } else sm.copy(conds = cond +: sm.conds)
        }
      case j @ Join(l, r, jt, Some(cond), _)
          if jt == Inner || jt == LeftOuter =>
        val here = if (jt == LeftOuter) "left" else "inner"
        for {
          lm <- managedStarOf(l)
          rm <- managedStarOf(r)
          es <- {
            val parts = atoms(cond).map {
              case EqualTo(a: AttributeReference, b: AttributeReference) =>
                Some((a, b, here))
              case _ => None
            }
            if (parts.forall(_.isDefined)) Some(parts.flatten) else None
          }
          _ <- {
            // a LEFT join stays in the left-deep parser shape: a
            // single bare dim on the right (the preserved fact chain
            // on the left)
            if (here == "left" &&
              (rm.leaves.size != 1 || rm.edges.nonEmpty)) None
            else Some(())
          }
        } yield StarMatch(
          lm.conds ++ rm.conds,
          lm.leaves ++ rm.leaves,
          lm.edges ++ rm.edges ++ es,
          lm.leftDimLeaves ++
            rm.leftDimLeaves.map(_ + lm.leaves.size) ++
            (if (here == "left") Set(lm.leaves.size) else Set.empty[Int]))
      case other =>
        managedSourceOf(other).map { case (c, p, v) =>
          StarMatch(
            Nil, Seq(StarLeaf(c, p, v, other.outputSet)), Nil, Set.empty)
        }
    }
  }

  private def rewriteManagedStar(agg: Aggregate): Option[LogicalPlan] =
    managedStarOf(agg.child)
      .filter(sm => sm.leaves.size >= 3 && // ≥2 joins; 1 join = legacy path
        sm.edges.size == sm.leaves.size - 1)
      .flatMap { sm =>
        // a LEFT join's right-side dim can never be the fact (the
        // preserved chain is on the left); every other leaf is tried
        // — inner trees may have been reordered, and the alignment
        // verifies whichever candidate is claimed
        val factLeaves = sm.leaves.zipWithIndex
          .collect { case (l, i) if !sm.leftDimLeaves(i) => l }
        pickCheapest(factLeaves.flatMap { factLeaf =>
          val dimPins = sm.leaves.filterNot(_ eq factLeaf)
            .map(l => l.path -> l.v).toMap
          mvRefsOf(factLeaf.path).map { mvPath =>
            (mvPath, factLeaf.v, Some(dimPins), () =>
              try alignStar(agg, sm, factLeaf, mvPath)
              catch {
                case scala.util.control.NonFatal(t) =>
                  MvRewrite.diag(s"$mvPath: serve attempt crashed: " +
                    s"${t.getClass.getSimpleName}: ${t.getMessage}")
                  None
              })
          }
        })
      }

  /** Align the query's leaf/edge sets with `mvPath`'s recorded join
    * lists: each recorded (dim_i, fk_i, pk_i) must claim exactly one
    * unused leaf (by path) and exactly one unused edge (pk-side
    * attribute in that leaf, fk-side attribute anywhere else), and
    * every leaf residual must strip to nothing (fact) or transplant
    * (dims — via serveManaged's standard gate). On success the probe
    * carries the dims in RECORDED order with the QUERY's pinned
    * versions; serveManaged re-verifies versions (DIM DRIFT) and
    * everything downstream (grain, measures, freshness). */
  private def alignStar(
      agg: Aggregate,
      sm: StarMatch,
      factLeaf: StarLeaf,
      mvPath: String
  ): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.And
    val props = graft.sources.SnapshotLog.tableProps(spark, mvPath)
    val rDims = props.getOrElse("mv_join_dim", return None)
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val rFks = props.getOrElse("mv_join_fk", "").split(',').map(_.trim).toSeq
    val rPks = props.getOrElse("mv_join_pk", "").split(',').map(_.trim).toSeq
    val dimLeavesAll = sm.leaves.filterNot(_ eq factLeaf)
    if (rDims.size != dimLeavesAll.size || rFks.size != rDims.size ||
      rPks.size != rDims.size) {
      MvRewrite.diag(s"$mvPath: joins ${rDims.size} dim(s), the query " +
        s"${dimLeavesAll.size}; skipped")
      return None
    }
    // claim one leaf per recorded dim (paths are distinct at create,
    // so first-match is unambiguous)
    val usedLeaf = scala.collection.mutable.Set[Int]()
    val dimLeaves: Seq[StarLeaf] = rDims.map { dp =>
      val i = dimLeavesAll.indexWhere(
        l => MvRewrite.samePath(l.path, dp)) match {
        case idx if idx >= 0 && !usedLeaf(idx) => idx
        case _ =>
          MvRewrite.diag(s"$mvPath: recorded dim $dp is not among the " +
            "query's join inputs; skipped")
          return None
      }
      usedLeaf += i
      dimLeavesAll(i)
    }
    // claim one edge per recorded (fk, pk): pk-side attr must be OUT
    // of that dim's leaf, fk-side anywhere else (fact or another dim —
    // the snowflake case); name-unique ownership was enforced at create
    // per-edge types (round 18): the recorded list when mixed, the
    // uniform legacy props otherwise — each claimed query edge must
    // carry the RECORDED type for its dim (an inner edge drops rows
    // the left bucket keeps and vice versa)
    val rTypes = graft.sources.SnapshotLog.edgeTypesOf(props, rDims.size)
    val usedEdge = scala.collection.mutable.Set[Int]()
    rDims.indices.foreach { i =>
      val dimOut = dimLeaves(i).out
      val e = sm.edges.indexWhere { case (a, b, t) =>
        val pkSide =
          if (dimOut.contains(a)) Some((a, b))
          else if (dimOut.contains(b)) Some((b, a))
          else None
        t == rTypes(i) && pkSide.exists { case (pkA, fkA) =>
          pkA.name == rPks(i) && fkA.name == rFks(i) &&
            !dimOut.contains(fkA)
        }
      }
      if (e < 0 || usedEdge(e)) {
        MvRewrite.diag(s"$mvPath: the query has no ${rTypes(i)} join " +
          s"edge ${rFks(i)} = ${rPks(i)} onto ${rDims(i)}; skipped")
        return None
      }
      usedEdge += e
    }
    if (usedEdge.size != sm.edges.size) {
      MvRewrite.diag(s"$mvPath: the query carries extra join " +
        "condition(s) beyond the recorded star; skipped")
      return None
    }
    // an INNER edge implies isnotnull on both its key attributes, so
    // inferred isnotnull atoms strip for those; a LEFT edge implies
    // NOTHING (NULL-fk rows live in the buckets) — a predicate
    // touching a left edge's attributes is REAL. Fact-side: anything
    // surviving the inner-edge strip references row-level values the
    // rollup no longer has. Dim-side: a pre-join predicate on a
    // LEFT-edge dim changes which rows fall into the NULL buckets (a
    // filter moves its non-matches INTO the bucket, which the MV —
    // folded against the UNFILTERED dim — does not reflect): refuse;
    // an INNER-edge dim's residual transplants through the standard
    // gate.
    val innerEdgeAttrs: Seq[AttributeReference] =
      sm.edges.collect { case (a, b, "inner") => Seq(a, b) }.flatten
    def stripInner(cond: Option[Expression]): Option[Expression] =
      innerEdgeAttrs.foldLeft(cond)((c, k) => stripJoinNotNull(c, k))
    rDims.indices.foreach { i =>
      if (rTypes(i) == "left" && dimLeaves(i).cond.nonEmpty) {
        MvRewrite.diag(s"$mvPath: a dim-side predicate under a LEFT " +
          "join changes the NULL-bucket membership the rollup folded; " +
          "skipped")
        return None
      }
    }
    // surviving fact-leaf residuals route through the standard
    // transplant gate with everything else: a predicate on the
    // (derived) fact KEY is identical pre- and post-join — the join
    // never changes the fact key's value, left edges included — and
    // anything referencing non-key fact columns (measures, fks) is
    // refused by the gate with its own diagnosis. Above-join `conds`
    // transplant by post-join semantics, which is exactly what a
    // filter over the MV's stored rows applies.
    val dimCond: Option[Expression] =
      (stripInner(factLeaf.cond) ++
        rDims.indices.flatMap(i =>
          if (rTypes(i) == "left") None
          else stripInner(dimLeaves(i).cond)) ++ sm.conds)
        .reduceOption(And(_, _))
    val probe = JoinProbe(
      rDims.indices.map(i =>
        DimLink(dimLeaves(i).path, dimLeaves(i).v, rFks(i), rPks(i))),
      factLeaf.out.map(_.exprId.id).toSet,
      rTypes)
    serveManaged(agg, dimCond, factLeaf.path, factLeaf.v, mvPath,
      Some(probe))
  }

  /** Resolve a recorded measure-expression TEXT (`mv_agg_expr`)
    * against the query's own source plan and return the catalyst
    * expression a query-side aggregate child must semantically equal
    * for the serve to fire. The text is parsed, name-resolved against
    * `child`'s output (the analyzer — so the attribute exprIds are
    * the QUERY's), type-coerced, and constant-folded (the optimizer
    * folds the literal casts coercion inserts, so the query side and
    * this side canonicalize identically: `100 - d` spells
    * `Literal(100L) - d` on both). Any failure returns None — a
    * mismatch can only cost the optimization, never correctness. */
  private def resolveMeasureExpr(
      text: String,
      child: LogicalPlan
  ): Option[Expression] =
    try {
      val parsed = spark.sessionState.sqlParser.parseExpression(text)
      val proj = Project(Seq(Alias(parsed, "__graft_measure")()), child)
      val analyzed = spark.sessionState.analyzer.execute(proj)
      val folded =
        org.apache.spark.sql.catalyst.optimizer.ConstantFolding(analyzed)
      folded match {
        case Project(Seq(al: Alias), _) if al.name == "__graft_measure" =>
          Some(al.child)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One candidate MV: verify provenance + freshness, then map the
    * aggregate's output onto the MV's stored columns. Grains that
    * serve (round 15 widens round 14's three):
    *
    *   - IDENTITY — the MV's own key grain (plain column or a derived
    *     time grain): a 1:1 column mapping, NO aggregate node at all.
    *   - COARSE — every grouping expression is a pure function of the
    *     MV key (`trunc(to_date(ts),'month')` over the daily MV, `year
    *     (...)`, a substring over a plain key): the query's groups are
    *     unions of whole MV groups, so re-aggregating the partials
    *     (sum of sums, min of mins, count as sum of counts) is exact
    *     by reassociation — a monthly dashboard serves from the daily
    *     rollup instead of the 100 TB source.
    *   - GLOBAL — GROUP BY (): the same re-aggregation with no keys.
    *
    * A residual filter TRANSPLANTS onto the MV iff every source
    * reference sits inside a key-shaped subtree (`WHERE to_date(ts) >=
    * X` probes the daily MV's key column directly — round 15, closing
    * the round-14 unconditional derived-key bail) and the predicate is
    * deterministic and subquery-free (a `rand() < 0.5` has an EMPTY
    * reference set and would evaluate once per GROUP instead of once
    * per source row — the advisor's round-14 finding). Any shape the
    * stored grain cannot answer EXACTLY returns None (bail to the
    * source plan). */
  private def serveManaged(
      agg: Aggregate,
      condOpt: Option[Expression],
      srcPath: String,
      srcVersion: Int,
      mvPath: String,
      joinProbe: Option[JoinProbe]
  ): Option[LogicalPlan] = {
    import graft.sources.SnapshotLog
    import org.apache.spark.sql.catalyst.expressions.{
      Cast,
      Coalesce,
      Divide,
      EqualTo,
      If,
      KnownNotNull,
      Multiply,
      PlanExpression,
      TruncDate,
      TruncTimestamp
    }
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateFunction,
      Average
    }
    import org.apache.spark.sql.types.{
      DateType,
      DoubleType,
      FloatType,
      IntegerType,
      LongType,
      StringType
    }
    val props = SnapshotLog.tableProps(spark, mvPath)
    if (!props.get("mv_source").exists(s => MvRewrite.samePath(s, srcPath))) {
      MvRewrite.diag(s"$mvPath: dangling mv_refs pointer — its mv_source " +
        s"is ${props.getOrElse("mv_source", "<unset>")}, not the scanned " +
        "table; skipped")
      return None
    }
    // join MVs serve ONLY through a verified join context, and plain
    // MVs never through one. Without this gate a join MV would serve
    // a fact-only query — WRONG: the inner join dropped unmatched
    // fact rows from mv_n and every measure partial. With it, the
    // query's dim must be the recorded dim AT the recorded pinned
    // version, joined on exactly the recorded fk = pk.
    (props.get("mv_join_dim"), joinProbe) match {
      case (None, None) => ()
      case (Some(dp), Some(jp)) =>
        // round 16: the recorded join is a LIST (star/snowflake) —
        // every field is an aligned comma-joined list; the probe's
        // dims arrive in the SAME recorded order (the star matcher
        // aligns them; the legacy 2-leaf path is the singleton case)
        val rDims = dp.split(',').toSeq
        val rFks = props.getOrElse("mv_join_fk", "").split(',').toSeq
        val rPks = props.getOrElse("mv_join_pk", "").split(',').toSeq
        val rVs = props.getOrElse("mv_dim_version", "")
          .split(',').toSeq.map(s => scala.util.Try(s.trim.toInt).toOption)
        if (rDims.size != jp.dims.size) {
          MvRewrite.diag(s"$mvPath: joins ${rDims.size} dim(s), the " +
            s"query ${jp.dims.size}; skipped")
          return None
        }
        // the join TYPE is part of the recorded shape — PER EDGE
        // (round 18): an inner edge lacks the NULL bucket a LEFT
        // query needs on that dim, and a left edge's NULL bucket
        // mixes unmatched rows with matched-NULL-attr rows an inner
        // query never sees — any per-edge mismatch is wrong
        val rTypes =
          graft.sources.SnapshotLog.edgeTypesOf(props, rDims.size)
        if (rTypes != jp.joinTypes) {
          MvRewrite.diag(s"$mvPath: records join types " +
            s"(${rTypes.mkString(", ")}); the query joins " +
            s"(${jp.joinTypes.mkString(", ")}) — the NULL-bucket " +
            "semantics differ, skipped")
          return None
        }
        jp.dims.zipWithIndex.foreach { case (dl, i) =>
          if (rFks.size <= i || rPks.size <= i ||
            !MvRewrite.samePath(rDims(i), dl.dimPath)) {
            MvRewrite.diag(s"$mvPath: joins a different dim " +
              s"(${rDims.lift(i).getOrElse("?")}, query joins " +
              s"${dl.dimPath}); skipped")
            return None
          }
          if (rFks(i) != dl.fkName || rPks(i) != dl.pkName) {
            MvRewrite.diag(s"$mvPath: joins on " +
              s"${rFks.lift(i).getOrElse("?")} = " +
              s"${rPks.lift(i).getOrElse("?")}, the query on " +
              s"${dl.fkName} = ${dl.pkName}; skipped")
            return None
          }
        }
        // the dim VERSION check happens after freshness below — the
        // effective pins vary by MV version once a dim refresh has
        // bumped them (mvdv= riders), so the right pins to compare
        // are the ones at the SERVED MV version
        if (rVs.size != jp.dims.size || rVs.exists(_.isEmpty)) {
          MvRewrite.diag(s"$mvPath: carries malformed mv_dim_version " +
            "props; skipped")
          return None
        }
      case (Some(_), None) =>
        // a LEFT-join MV keeps EVERY fact row in exactly one group
        // (left join; pk unique at the pinned dim), so a FACT-ONLY
        // aggregate re-aggregates over all groups — NULL bucket
        // included. Fall through: groupings and filters must then
        // transplant onto the derived FACT member through the
        // standard gate (a dim attribute cannot occur in a fact-only
        // query — its name is guarded out of the fact schema). The
        // INNER kind keeps the hard bail: it dropped unmatched rows
        // from every partial.
        if (!props.get("mv_join_type").contains("left")) {
          MvRewrite.diag(s"$mvPath: is a JOIN rollup — it cannot serve " +
            "a fact-only aggregate (the inner join dropped unmatched " +
            "fact rows); query the join, or create a plain MV on the fact")
          return None
        }
      case (None, Some(_)) =>
        MvRewrite.diag(s"$mvPath: is a single-table rollup — it cannot " +
          "serve a join aggregate; create_join_mv covers that shape")
        return None
    }
    // a measure attribute must resolve on the FACT side of a join
    // probe (see [[JoinProbe.factOut]]); plain serves have no probe
    // and every attribute is source-side by construction
    def factSide(a: AttributeReference): Boolean =
      joinProbe.forall(_.factOut.contains(a.exprId.id))
    val key = props.getOrElse("mv_key", return None)
    // composite plain keys: mv_key is a comma-joined column list; the
    // full grain serves 1:1, any key SUBSET serves by re-aggregation
    // (the coarse path below — a subset grouping is a projection of
    // the stored grain, so groups are unions of whole MV groups)
    val keys: Seq[String] = key.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (keys.isEmpty) return None
    val measure = props.getOrElse("mv_agg", return None)
    // multi-measure MVs: mv_agg is a comma-joined list; stored columns
    // are bare (mv_sum) for one measure, suffixed (mv_sum_<m>) otherwise
    val measures: Seq[String] =
      measure.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (measures.isEmpty) return None
    def mcol(base: String, m: String): String =
      if (measures.size == 1) base else s"${base}_$m"
    val kind = props.getOrElse("mv_kind", "sum")
    // EXPRESSION measures (round 16, generalized round 17 to a
    // per-measure LIST): an MV measure may be a declared expression
    // over source columns, not a column — resolve each recorded text
    // against THIS query's scan so the aggregate-child match below is
    // by semantic equality of catalyst trees, never by name. Declared
    // at createMv (single-table MVs only).
    val exprMeasures: Seq[(String, Expression)] = {
      val declared =
        graft.sources.SnapshotLog.declaredMeasureExprs(props, measures)
      declared.flatMap { case (m, text) =>
        resolveMeasureExpr(text, agg.child) match {
          case Some(e) =>
            // join probes (round 19): the declared expression was
            // resolved fact-side at create time — the query-side
            // resolution must land ENTIRELY on resolved FACT
            // attributes too, or the text bound a dim attribute of
            // this query's shape (a dim column sharing a source
            // column's name) and matching it would serve a
            // fact-derived partial for a dim-derived value. The
            // offending ENTRY is dropped (it can never match safely),
            // not the MV — the other declared measures still serve.
            // Plain serves keep the legacy posture: every attribute is
            // source-side by construction, and an entry referencing a
            // column this query's scan pruned away is a dead entry
            // that simply never matches.
            if (joinProbe.isDefined && !e.references.forall {
                case a: AttributeReference => factSide(a)
                case _                     => false
              }) {
              MvRewrite.diag(s"$mvPath: the recorded measure " +
                s"expression '$text' resolves to non-fact columns in " +
                "this query; that measure cannot serve here")
              None
            } else Some(m -> e)
          case None =>
            MvRewrite.diag(s"$mvPath: the recorded measure expression " +
              s"'$text' does not resolve against this query's source; " +
              "skipped")
            return None
        }
      }
    }
    // which declared measure IS this aggregate child, if any — the
    // names are guarded against source columns, so this can never
    // race the name-based attribute matches
    def exprMeasureOf(e: Expression): Option[String] =
      exprMeasures.find(_._2.semanticEquals(e)).map(_._1)
    // Freshness: serve from the MV VERSION whose effective committed
    // `mvv` watermark equals the query's pinned source version —
    // MV@v ≡ aggregate(source@v). For a tip read that is the MV tip;
    // for `VERSION AS OF` at an older source version it is the OLDER
    // MV version whose mvv matched (historical serve, round 15 — the
    // ledger is immutable per committed version, so pinning the pair
    // cannot race a concurrent refresh: a refresh only APPENDS new
    // versions). The props copy backs pre-header MVs (tip only).
    val mvV0: Int = SnapshotLog
      .versionAtWatermark(spark, mvPath, "mvv", srcVersion)
      .orElse {
        if (SnapshotLog.committedWatermark(spark, mvPath, "mvv").isEmpty &&
          props.get("mv_version")
            .flatMap(s => scala.util.Try(s.toInt).toOption)
            .contains(srcVersion))
          SnapshotLog.versions(spark, mvPath).lastOption
        else None
      }
      .getOrElse {
        MvRewrite.diag(s"$mvPath: STALE — no committed MV version folds " +
          s"exactly source@v$srcVersion" +
          SnapshotLog.committedWatermark(spark, mvPath, "mvv")
            .map(w => s" (the MV's tip watermark is v$w)").getOrElse("") +
          "; run REFRESH MATERIALIZED VIEW (or query the version the MV " +
          "is fresh at)")
        return None
      }
    // dim freshness (join probes): the query's pinned dim versions
    // must equal the MV's EFFECTIVE pins AT the served MV version —
    // create-time props overlaid with every dim refresh's mvdv= rider
    // up to mvV (round 16: a dim-refreshed MV serves current-dim
    // queries from its tip and old-dim queries from its pre-refresh
    // versions; both reads are exact against their own pins).
    // Round 17 (the round-16 advisor's finding): a dim refresh
    // re-commits with the fact watermark UNCHANGED, so the newest
    // `mvv` span is the POST-refresh version — a query pinned at
    // (fact@watermark, dim@oldPin) must probe the OLDER versions
    // sharing the same `mvv` before bailing; each candidate's own
    // effective pins decide. The common case (pins match at the
    // newest span) stays one lookup.
    val mvV: Int = joinProbe match {
      case None => mvV0
      case Some(jp) =>
        val want: Seq[Int] = jp.dims.map(_.dimV)
        def pinsAt(v: Int): Seq[Int] = SnapshotLog
          .effectiveDimVersions(spark, mvPath, Some(v)).getOrElse(Nil)
        if (pinsAt(mvV0) == want) mvV0
        else SnapshotLog
          .versionsAtWatermark(spark, mvPath, "mvv", srcVersion)
          .find(v => v != mvV0 && pinsAt(v) == want)
          .getOrElse {
            val eff = pinsAt(mvV0)
            val i = jp.dims.indices
              .find(i => !eff.lift(i).contains(jp.dims(i).dimV))
              .getOrElse(0)
            val dl = jp.dims(i)
            MvRewrite.diag(s"$mvPath: DIM DRIFT — no MV version folding " +
              s"source@v$srcVersion is pinned at ${dl.dimPath} " +
              s"v${dl.dimV} (MV@v$mvV0 pins " +
              s"v${eff.lift(i).map(_.toString).getOrElse("?")}); a fact " +
              "REFRESH cannot fix this — run CALL " +
              "system.refresh_mv_dim(mv, dim) to fold the dim change in " +
              "(or re-materialize)")
            return None
          }
    }
    // the key-shape grammar: which query-side expression IS the MV
    // key. Round 16 splits it in two: `plainKeys` match as bare
    // attributes (composite members, dim attrs of a mixed-grain join
    // MV), and the recorded `mv_key_expr` grain matches structurally
    // for its ONE member — the whole key of a plain derived MV
    // (mv_fact_key absent ⇒ keys.head) or the recorded mv_fact_key
    // member of a mixed-grain join MV.
    val derivedName: Option[String] =
      props.get("mv_key_expr").map(_ =>
        props.getOrElse("mv_fact_key", keys.head))
    val plainKeys: Set[String] = derivedName match {
      case Some(d) => keys.filterNot(_ == d).toSet
      case None    => keys.toSet
    }
    val derivedShapedOpt: Option[Expression => Boolean] =
      props.get("mv_key_expr") match {
        case None => Some(_ => false)
        // the optimizer spells to_date(c) as Cast(c AS DATE)
        case Some(MvRewrite.ToDateRe(c)) =>
          Some({
            case Cast(a: AttributeReference, DateType, _, _) => a.name == c
            case _                                           => false
          })
        // trunc(to_date(c), 'month'|'year') — level synonyms normalize
        case Some(MvRewrite.TruncDayRe(c, lvl)) =>
          MvRewrite.normLevel(lvl).filter(l => l == "month" || l == "year")
            .map(l =>
              (e: Expression) =>
                e match {
                  case TruncDate(
                        Cast(a: AttributeReference, DateType, _, _),
                        Literal(fmt, StringType)) =>
                    a.name == c && fmt != null &&
                      MvRewrite.normLevel(fmt.toString).contains(l)
                  case _ => false
                })
        // date_trunc('hour', c) — TruncTimestamp(format, ts)
        case Some(MvRewrite.DateTruncRe(lvl, c)) =>
          MvRewrite.normLevel(lvl).filter(_ == "hour").map(_ =>
            (e: Expression) =>
              e match {
                case TruncTimestamp(
                      Literal(fmt, StringType), a: AttributeReference, _) =>
                  a.name == c && fmt != null &&
                    MvRewrite.normLevel(fmt.toString).contains("hour")
                case _ => false
              })
        case Some(_) => None // unknown recorded grain: never guess
      }
    val derivedShaped = derivedShapedOpt.getOrElse {
      MvRewrite.diag(s"$mvPath: recorded key grain " +
        s"'${props.getOrElse("mv_key_expr", "?")}' is not one this build " +
        "recognizes; skipped")
      return None
    }
    val keyShaped: Expression => Boolean = {
      case a: AttributeReference => plainKeys(a.name)
      case x                     => derivedShaped(x)
    }
    val mvPlan =
      SnapshotLog.read(spark, mvPath, Some(mvV)).queryExecution.analyzed
    val mvAttr = mvPlan.output.map(a => a.name -> a).toMap
    if (!keys.forall(mvAttr.contains)) return None
    // the stored column of the derived key member (or of the single
    // plain key); composite members resolve per-name through mvKeyFor
    val mvKey = mvAttr(derivedName.getOrElse(keys.head))
    val mvKeyIds: Set[Long] = keys.map(k => mvAttr(k).exprId.id).toSet
    def mvKeyFor(x: Expression): Attribute = x match {
      case a: AttributeReference if mvAttr.contains(a.name) => mvAttr(a.name)
      case _                                                => mvKey
    }
    // The optimizer UNWRAPS day-key comparisons before this rule runs:
    // `to_date(ts) >= DATE'd'` reaches us as `ts >= TIMESTAMP'd
    // 00:00:00' AND isnotnull(ts)`. A timestamp bound that sits
    // EXACTLY on a (session-zone) midnight is the same predicate as
    // the date comparison it came from — `to_date(ts) >= d ⟺ ts >=
    // d-midnight`, `to_date(ts) < d ⟺ ts < d-midnight` (truncation is
    // monotone within one zone) — so those atoms transplant onto the
    // MV's day column; a bound OFF midnight would split a day's group
    // and must bail. isnotnull(ts) maps to isnotnull(day): the NULL
    // day group aggregates exactly the NULL-ts rows.
    val dayCol: Option[String] =
      props.get("mv_key_expr").collect { case MvRewrite.ToDateRe(c) => c }
    def isDayCol(a: AttributeReference): Boolean = dayCol.contains(a.name)
    def midnightDate(l: Literal): Option[Literal] = l.value match {
      case micros: java.lang.Long =>
        val zone = java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone)
        val zdt = java.time.Instant
          .ofEpochSecond(
            Math.floorDiv(micros.longValue, 1000000L),
            Math.floorMod(micros.longValue, 1000000L) * 1000L)
          .atZone(zone)
        if (zdt.toLocalTime == java.time.LocalTime.MIDNIGHT)
          Some(Literal(zdt.toLocalDate.toEpochDay.toInt, DateType))
        else None
      case _ => None
    }
    // substitute every key-shaped subtree (and, for the day grain,
    // every unwrapped midnight-aligned timestamp atom) with its MV
    // key form; the result is exact iff no OTHER source reference
    // survives and the expression is deterministic and subquery-free
    def transplant(e: Expression): Option[Expression] = {
      import org.apache.spark.sql.catalyst.expressions.{
        GreaterThanOrEqual,
        IsNotNull,
        LessThan
      }
      if (!e.deterministic || e.exists(_.isInstanceOf[PlanExpression[_]]))
        return None
      val t = e.transformDown {
        case x if keyShaped(x) => mvKeyFor(x)
        case GreaterThanOrEqual(a: AttributeReference, l: Literal)
            if isDayCol(a) && l.dataType == org.apache.spark.sql.types
              .TimestampType && midnightDate(l).isDefined =>
          GreaterThanOrEqual(mvKey, midnightDate(l).get)
        case LessThan(a: AttributeReference, l: Literal)
            if isDayCol(a) && l.dataType == org.apache.spark.sql.types
              .TimestampType && midnightDate(l).isDefined =>
          LessThan(mvKey, midnightDate(l).get)
        case IsNotNull(a: AttributeReference) if isDayCol(a) =>
          IsNotNull(mvKey)
      }
      if (t.references.forall(r => mvKeyIds.contains(r.exprId.id))) Some(t)
      else None
    }
    val global = agg.groupingExpressions.isEmpty
    // identity = the query grain IS the stored grain: every grouping
    // maps onto a DISTINCT stored key member (plain members by name,
    // the derived member by its grain shape), covering the whole set
    val identity = !global && {
      val gs = agg.groupingExpressions
      gs.forall(keyShaped) && gs.size == keys.size && {
        val mapped = gs.map {
          case a: AttributeReference => a.name
          case _                     => derivedName.getOrElse(keys.head)
        }
        mapped.toSet == keys.toSet
      }
    }
    val coarseGroups: Option[Seq[Expression]] =
      if (global || identity) None
      else seqOpt(agg.groupingExpressions.map(transplant))
    if (!global && !identity && coarseGroups.isEmpty) {
      MvRewrite.diag(s"$mvPath: the grouping " +
        agg.groupingExpressions.map(_.sql).mkString("(", ", ", ")") +
        s" is neither the stored grain ($key) nor a pure function of " +
        "it — a FINER grain can never be recovered from a coarser rollup")
      return None
    }
    val reagg = global || coarseGroups.isDefined
    // residual predicate: transplant or bail (see Scaladoc)
    val condMv: Option[Expression] = condOpt match {
      case None => None
      case Some(c) =>
        transplant(c) match {
          case Some(t) => Some(t)
          case None =>
            MvRewrite.diag(s"$mvPath: the predicate ${c.sql} does not " +
              "transplant onto the stored key (it references non-key " +
              "columns, is nondeterministic, or carries a subquery) — " +
              "row-level values no longer exist in the rollup")
            return None
        }
    }
    // type must match EXACTLY and declared non-nullability is
    // re-asserted (MV parquet columns read nullable, but a group key
    // exists by construction and counts are never null)
    def fit(child: Expression, want: NamedExpression): Option[Expression] =
      if (child.dataType != want.dataType) None
      else if (!want.nullable && child.nullable) Some(KnownNotNull(child))
      else Some(child)
    // name the FIRST unservable output — the one thing the user must
    // change (or the MV must grow) for the rewrite to fire
    def diagOuts(outs: Seq[Option[NamedExpression]]): Unit = {
      val i = outs.indexWhere(_.isEmpty)
      if (i >= 0)
        MvRewrite.diag(s"$mvPath: output " +
          s"${agg.aggregateExpressions(i).sql} does not map onto the " +
          s"stored partials (kind=$kind, measures=${measures.mkString(",")})")
    }
    def diagServed(grain: String): Unit =
      MvRewrite.diag(s"SERVED from $mvPath (MV v$mvV ≡ source@v$srcVersion" +
        s", $grain grain, kind=$kind)")
    // ---- kind='distinct' owns its whole serve path (round 15) ----
    // The stored grain is (keys..., mv_bno) — one bitmap per
    // 32768-value bucket — NOT one row per key, so the generic 1:1 /
    // re-agg mapping below would be WRONG for this kind (count(*)
    // from a per-bucket mv_n would multiply by the bucket count).
    // Return from inside this block for every distinct-kind MV.
    //
    //   - IDENTITY: one Aggregate at the stored key grain — buckets
    //     within a group partition its value set, so the stored
    //     per-bucket cardinalities SUM: count(DISTINCT m) =
    //     sum(mv_dc), count(*) = sum(mv_n). O(MV), no expand, no
    //     source scan.
    //   - COARSE/GLOBAL: the same value can appear under MANY fine
    //     keys mapping to one coarse group, so cardinalities do NOT
    //     sum — the bitmaps OR: an inner Aggregate at (coarse grain,
    //     mv_bno) unions the bucket bitmaps (bitmap_or_agg) and
    //     counts bits, an outer Aggregate sums the per-bucket counts.
    //     This is exactly the query a naive rollup CANNOT answer
    //     (sum of daily distincts ≠ monthly distinct) and the reason
    //     the kind stores sets, not counts.
    if (kind == "distinct") {
      import org.apache.spark.sql.catalyst.expressions.{
        BitmapCount,
        BitmapOrAgg
      }
      import org.apache.spark.sql.catalyst.expressions.aggregate.Count
      if (measures.size != 1) return None
      val meas = measures.head
      if (!Seq("mv_bno", "mv_bm", "mv_dc", "mv_n").forall(mvAttr.contains)) {
        MvRewrite.diag(s"$mvPath: kind=distinct but the bucket columns " +
          "are missing — not a rollup this build can serve")
        return None
      }
      val base = condMv match {
        case Some(cond) => Filter(cond, mvPlan)
        case None       => mvPlan
      }
      // the two servable aggregates, by distinct-ness
      object CountDistinctMeas {
        def unapply(e: Expression): Boolean = e match {
          case AggregateExpression(
                Count(Seq(x: AttributeReference)), Complete, true, None, _) =>
            x.name == meas && factSide(x)
          // round 17: count(DISTINCT <expr>) serves when the MV's
          // measure is the DECLARED expression — matched by semantic
          // equality of the resolved catalyst trees, never by name
          // (the declared name is guarded against source columns, so
          // the two arms can never race)
          case AggregateExpression(
                Count(Seq(x)), Complete, true, None, _) =>
            exprMeasureOf(x).contains(meas)
          case _ => false
        }
      }
      object CountStar {
        def unapply(e: Expression): Boolean = e match {
          case AggregateExpression(c: Count, Complete, false, None, _) =>
            c.children == Seq(Literal(1))
          case _ => false
        }
      }
      if (identity) {
        val groupings: Seq[Expression] = keys.map(k => mvAttr(k))
        val outs: Seq[Option[NamedExpression]] =
          agg.aggregateExpressions.map {
            case a: AttributeReference if keyShaped(a) =>
              fit(mvKeyFor(a), a)
                .map(e => Alias(e, a.name)(exprId = a.exprId))
            case al @ Alias(e, name) if keyShaped(e) =>
              fit(mvKeyFor(e), al)
                .map(x => Alias(x, name)(exprId = al.exprId))
            case al @ Alias(e @ CountDistinctMeas(), name) =>
              fit(
                KnownNotNull(Sum(mvAttr("mv_dc")).toAggregateExpression()),
                al).map(x => Alias(x, name)(exprId = al.exprId))
            case al @ Alias(e @ CountStar(), name) =>
              fit(
                KnownNotNull(Sum(mvAttr("mv_n")).toAggregateExpression()),
                al).map(x => Alias(x, name)(exprId = al.exprId))
            case _ => None
          }
        if (outs.exists(_.isEmpty)) { diagOuts(outs); return None }
        diagServed("identity")
        return Some(Aggregate(groupings, outs.map(_.get), base))
      }
      if (!global && coarseGroups.isEmpty) return None
      val tcg: Seq[Expression] = if (global) Nil else coarseGroups.get
      val (bno, bm, n) = (mvAttr("mv_bno"), mvAttr("mv_bm"), mvAttr("mv_n"))
      val cgAliases: Seq[Alias] =
        tcg.zipWithIndex.map { case (e, i) => Alias(e, s"__graft_cg$i")() }
      // BitmapCount is RuntimeReplaceable and ReplaceExpressions ran
      // long before this rule — inject its replacement directly
      val bcAlias = Alias(
        BitmapCount(BitmapOrAgg(bm).toAggregateExpression()).replacement,
        "__graft_bc")()
      val nAlias = Alias(Sum(n).toAggregateExpression(), "__graft_n")()
      val inner = Aggregate(
        tcg :+ bno,
        (cgAliases :+ bcAlias :+ nAlias).map(_.asInstanceOf[NamedExpression]),
        base)
      val cgAttrIds: Set[Long] = cgAliases.map(_.exprId.id).toSet
      // outer-level form of a transplanted key expression: substitute
      // each subtree that IS one of the inner groupings with that
      // grouping's alias attribute (an output may also be a pure
      // function OF a grouping — `year(day)` over `GROUP BY
      // month(day)` never parses, but `month(day)` spelled with a
      // different synonym canonicalizes equal, and composite subsets
      // surface bare key members)
      def toOuter(t: Expression): Option[Expression] = {
        val sub = t.transformDown {
          case x if tcg.exists(_.semanticEquals(x)) =>
            cgAliases(tcg.indexWhere(_.semanticEquals(x))).toAttribute
        }
        if (sub.references.forall(r => cgAttrIds.contains(r.exprId.id)))
          Some(sub)
        else None
      }
      def summed(a: Attribute): Expression =
        if (global)
          // a global aggregate returns one row even over an empty MV:
          // count over empty is 0, sum over empty is NULL
          Coalesce(Seq(Sum(a).toAggregateExpression(), Literal(0L)))
        else Sum(a).toAggregateExpression()
      val outs: Seq[Option[NamedExpression]] =
        agg.aggregateExpressions.map {
          case a: AttributeReference if keyShaped(a) =>
            transplant(a).flatMap(toOuter).flatMap(t =>
              fit(t, a).map(e => Alias(e, a.name)(exprId = a.exprId)))
          case al @ Alias(e @ CountDistinctMeas(), name) =>
            fit(KnownNotNull(summed(bcAlias.toAttribute)), al)
              .map(x => Alias(x, name)(exprId = al.exprId))
          case al @ Alias(e @ CountStar(), name) =>
            fit(KnownNotNull(summed(nAlias.toAttribute)), al)
              .map(x => Alias(x, name)(exprId = al.exprId))
          case al @ Alias(e, name)
              if !e.exists(_.isInstanceOf[AggregateExpression]) =>
            transplant(e).flatMap(toOuter).flatMap(t =>
              fit(t, al).map(x => Alias(x, name)(exprId = al.exprId)))
          case _ => None
        }
      if (outs.exists(_.isEmpty)) { diagOuts(outs); return None }
      diagServed(if (global) "global" else "coarse")
      return Some(
        Aggregate(cgAliases.map(_.toAttribute), outs.map(_.get), inner))
    }
    // ---- end kind='distinct' ----
    // one stored-measure mapping for all three grains: identity reads
    // the stored column, coarse/global re-aggregate it
    def servedAgg(fn: AggregateFunction): Option[Expression] = fn match {
      case c: Count if c.children == Seq(Literal(1)) =>
        mvAttr.get("mv_n").map { n =>
          if (!reagg) n: Expression
          else if (global)
            // count over an empty source is 0, sum over empty is NULL
            Coalesce(Seq(Sum(n).toAggregateExpression(), Literal(0L)))
          else Sum(n).toAggregateExpression()
        }
      // count(measure) — the NON-NULL count — serves from mv_nn when
      // the MV stores it (stats + avgExact). No declaration gate:
      // counts are integers, exact under any re-association.
      case Count(Seq(x: AttributeReference))
          if measures.contains(x.name) && factSide(x) &&
            mvAttr.contains(mcol("mv_nn", x.name)) =>
        mvAttr.get(mcol("mv_nn", x.name)).map { nn =>
          if (!reagg) nn: Expression
          else if (global)
            Coalesce(Seq(Sum(nn).toAggregateExpression(), Literal(0L)))
          else Sum(nn).toAggregateExpression()
        }
      case Sum(x: AttributeReference, _)
          if measures.contains(x.name) && factSide(x) &&
            (kind == "sum" || kind == "stats") =>
        mvAttr.get(mcol("mv_sum", x.name)).map(s =>
          if (!reagg) s: Expression else Sum(s).toAggregateExpression())
      // kind='hll' (round 16): approx_count_distinct(m) serves from
      // the stored DataSketches sketch — identity reads the per-group
      // estimate, coarse/global UNION the sketches first (per-day
      // sketches OR into the month: the approximate MAU-from-DAU).
      // The estimator SWAPS (DataSketches HLL at the MV's DECLARED
      // lgConfigK — mv_hll_lgk, default 12 ≈ 1.6 % RSE — vs the
      // query's own HLL++) — both are estimates of the same
      // cardinality and the CREATE declaration carries the swap.
      // Gate on the query's requested precision: a relativeSD tighter
      // than the stored sketch's RSE must bail (we cannot deliver
      // it); the default 0.05 serves, and a higher-precision MV
      // (round 17: hllLgK at create) answers tighter requests. Exact
      // count(DISTINCT m) never matches here — it keeps the exact
      // bitmap kind.
      case hpp: org.apache.spark.sql.catalyst.expressions.aggregate
            .HyperLogLogPlusPlus
          if kind == "hll" && measures.contains(
            hpp.child match {
              case x: AttributeReference if factSide(x) => x.name
              case _ => ""
            }) =>
        if (hpp.relativeSD <
          SnapshotLog.hllRse(SnapshotLog.hllLgKOf(props))) {
          MvRewrite.diag(s"$mvPath: the query asks relativeSD=" +
            s"${hpp.relativeSD}, tighter than the stored sketch's " +
            f"~${SnapshotLog.hllRse(SnapshotLog.hllLgKOf(props))}%.4f " +
            s"RSE (lgConfigK ${SnapshotLog.hllLgKOf(props)}); not " +
            "served — re-materialize with a higher hllLgK")
          None
        } else
          mvAttr.get("mv_hll").map { sk =>
            import org.apache.spark.sql.catalyst.expressions.HllSketchEstimate
            import org.apache.spark.sql.catalyst.expressions.aggregate.HllUnionAgg
            val est: Expression =
              if (!reagg) HllSketchEstimate(sk)
              else HllSketchEstimate(
                HllUnionAgg(sk, Literal(false)).toAggregateExpression())
            // an all-NULL group has a NULL/empty sketch; the count is 0
            Coalesce(Seq(est, Literal(0L)))
          }
      case Min(x: AttributeReference)
          if measures.contains(x.name) && factSide(x) && kind == "minmax" =>
        mvAttr.get(mcol("mv_min", x.name)).map(m =>
          if (!reagg) m: Expression else Min(m).toAggregateExpression())
      case Max(x: AttributeReference)
          if measures.contains(x.name) && factSide(x) && kind == "minmax" =>
        mvAttr.get(mcol("mv_max", x.name)).map(m =>
          if (!reagg) m: Expression else Max(m).toAggregateExpression())
      case Sum(Multiply(x: AttributeReference, y: AttributeReference, _), _)
          if x.name == y.name && measures.contains(x.name) && factSide(x) &&
            kind == "stats" =>
        mvAttr.get(mcol("mv_sumsq", x.name)).map(s =>
          if (!reagg) s: Expression else Sum(s).toAggregateExpression())
      // avg serves ONLY from a stats MV whose registrant DECLARED the
      // measure integral-valued (`mv_avg_exact`, the Stage-path
      // avgExact precedent): sum(mv_sum)/sum(mv_nn) is then the same
      // double any evaluation order produces below 2^53. mv_nn (the
      // NON-NULL measure count), never mv_n — avg ignores NULLs. The
      // If guards the nn == 0 group (all-NULL measures): avg is NULL
      // there, and ANSI division would error instead.
      case Average(x: AttributeReference, _)
          if measures.contains(x.name) && factSide(x) && kind == "stats" &&
            props.get("mv_avg_exact").contains("true") &&
            mvAttr.contains(mcol("mv_nn", x.name)) &&
            (x.dataType == LongType || x.dataType == IntegerType ||
              x.dataType == DoubleType || x.dataType == FloatType) =>
        val (s, nn) =
          (mvAttr(mcol("mv_sum", x.name)), mvAttr(mcol("mv_nn", x.name)))
        val (se, nne): (Expression, Expression) =
          if (!reagg) (s, nn)
          else
            (Sum(s).toAggregateExpression(), Sum(nn).toAggregateExpression())
        Some(If(
          EqualTo(nne, Literal(0L)),
          Literal(null, DoubleType),
          Divide(Cast(se, DoubleType), Cast(nne, DoubleType))))
      // ---- EXPRESSION-measure matches (round 16; round 17 resolves
      // PER MEASURE): the aggregate's child must SEMANTICALLY equal
      // one of the resolved declared expressions — the revenue shape
      // `sum(cents * (100 - d))` answers from the rollup, and a
      // second declared expression answers under ITS stored columns.
      // Declared names are never source columns (guarded at create +
      // refresh), so these cases can never race the name-based ones
      // above.
      case Sum(e, _)
          if exprMeasureOf(e).isDefined &&
            (kind == "sum" || kind == "stats") =>
        mvAttr.get(mcol("mv_sum", exprMeasureOf(e).get)).map(s =>
          if (!reagg) s: Expression else Sum(s).toAggregateExpression())
      case Min(e) if exprMeasureOf(e).isDefined && kind == "minmax" =>
        mvAttr.get(mcol("mv_min", exprMeasureOf(e).get)).map(m =>
          if (!reagg) m: Expression else Min(m).toAggregateExpression())
      case Max(e) if exprMeasureOf(e).isDefined && kind == "minmax" =>
        mvAttr.get(mcol("mv_max", exprMeasureOf(e).get)).map(m =>
          if (!reagg) m: Expression else Max(m).toAggregateExpression())
      case Count(Seq(e))
          if exprMeasureOf(e).isDefined &&
            mvAttr.contains(mcol("mv_nn", exprMeasureOf(e).get)) =>
        mvAttr.get(mcol("mv_nn", exprMeasureOf(e).get)).map { nn =>
          if (!reagg) nn: Expression
          else if (global)
            Coalesce(Seq(Sum(nn).toAggregateExpression(), Literal(0L)))
          else Sum(nn).toAggregateExpression()
        }
      // approx_count_distinct(<expr>) over an hll MV whose DECLARED
      // expression the aggregate child semantically equals (round 18,
      // lifting the r17 refusal): same estimator swap and RSE gate as
      // the plain-column hll case — the sketch was built over the
      // materialized expression column at the declared lgK.
      case hpp: org.apache.spark.sql.catalyst.expressions.aggregate
            .HyperLogLogPlusPlus
          if kind == "hll" && exprMeasureOf(hpp.child).isDefined =>
        if (hpp.relativeSD <
          SnapshotLog.hllRse(SnapshotLog.hllLgKOf(props))) {
          MvRewrite.diag(s"$mvPath: the query asks relativeSD=" +
            s"${hpp.relativeSD}, tighter than the stored sketch's " +
            f"~${SnapshotLog.hllRse(SnapshotLog.hllLgKOf(props))}%.4f " +
            s"RSE (lgConfigK ${SnapshotLog.hllLgKOf(props)}); not " +
            "served — re-materialize with a higher hllLgK")
          None
        } else
          mvAttr.get("mv_hll").map { sk =>
            import org.apache.spark.sql.catalyst.expressions.HllSketchEstimate
            import org.apache.spark.sql.catalyst.expressions.aggregate.HllUnionAgg
            val est: Expression =
              if (!reagg) HllSketchEstimate(sk)
              else HllSketchEstimate(
                HllUnionAgg(sk, Literal(false)).toAggregateExpression())
            Coalesce(Seq(est, Literal(0L)))
          }
      case Average(e, _)
          if exprMeasureOf(e).isDefined && kind == "stats" &&
            props.get("mv_avg_exact").contains("true") &&
            mvAttr.contains(mcol("mv_nn", exprMeasureOf(e).get)) &&
            (e.dataType == LongType || e.dataType == IntegerType ||
              e.dataType == DoubleType || e.dataType == FloatType) =>
        val m = exprMeasureOf(e).get
        val (s, nn) = (mvAttr(mcol("mv_sum", m)), mvAttr(mcol("mv_nn", m)))
        val (se, nne): (Expression, Expression) =
          if (!reagg) (s, nn)
          else
            (Sum(s).toAggregateExpression(), Sum(nn).toAggregateExpression())
        Some(If(
          EqualTo(nne, Literal(0L)),
          Literal(null, DoubleType),
          Divide(Cast(se, DoubleType), Cast(nne, DoubleType))))
      case _ => None
    }
    val outs: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      // identity grain: the key columns serve 1:1 (bare plain-key
      // attrs or the aliased derived-key expression)
      case a: AttributeReference if identity && keyShaped(a) =>
        fit(mvKeyFor(a), a).map(e => Alias(e, a.name)(exprId = a.exprId))
      case al @ Alias(e, name) if identity && keyShaped(e) =>
        fit(mvKeyFor(e), al).map(x => Alias(x, name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(fn, Complete, false, None, _), name) =>
        servedAgg(fn).flatMap(e =>
          fit(e, al).map(x => Alias(x, name)(exprId = al.exprId)))
      // coarse grain: non-aggregate outputs are the grouping functions
      // of the key(s) — transplant them exactly like the groupings
      // (a bare key attr is the composite-subset case: GROUP BY k1
      // over a (k1,k2) MV surfaces k1 unaliased)
      case a: AttributeReference if coarseGroups.isDefined && keyShaped(a) =>
        fit(mvKeyFor(a), a).map(e => Alias(e, a.name)(exprId = a.exprId))
      case al @ Alias(e, name)
          if coarseGroups.isDefined &&
            !e.exists(_.isInstanceOf[AggregateExpression]) =>
        transplant(e).flatMap(t =>
          fit(t, al).map(x => Alias(x, name)(exprId = al.exprId)))
      case _ => None
    }
    if (outs.exists(_.isEmpty)) { diagOuts(outs); return None }
    val base = condMv match {
      case Some(cond) => Filter(cond, mvPlan)
      case None       => mvPlan
    }
    diagServed(
      if (global) "global" else if (identity) "identity" else "coarse")
    Some(
      if (global) Aggregate(Nil, outs.map(_.get), base)
      else if (identity) Project(outs.map(_.get), base)
      else Aggregate(coarseGroups.get, outs.map(_.get), base))
  }
}
