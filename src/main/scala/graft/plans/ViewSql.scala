package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTableOrView, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.catalog.{CatalogNotFoundException, Identifier, ViewChange, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.StructType

import graft.sources.SnapshotCatalog

/** SQL surface for the snapshot catalog's [[SnapshotCatalog]] view
  * layer.
  *
  * Spark 4.1 ships the `ViewCatalog` connector API but wires NO SQL
  * statement to it: `CREATE VIEW cat.ns.v` in a non-session catalog
  * fails analysis with MISSING_CATALOG_ABILITY (ResolveSessionCatalog
  * raises it as soon as the identifier resolves, BEFORE any injected
  * resolution rule can run — so a resolution-rule hook is structurally
  * too late). The lakehouse engines close this the same way: an
  * injected PARSER that owns the view statements. This one delegates
  * every statement to Spark's parser and then rewrites the parsed
  * tree:
  *
  *   - view DDL (`CREATE [OR REPLACE] VIEW`, `DROP VIEW`, `ALTER VIEW
  *     ... SET/UNSET TBLPROPERTIES`, `ALTER VIEW ... AS`, `ALTER VIEW
  *     ... RENAME TO`, `SHOW VIEWS`, `SHOW TBLPROPERTIES <view>`)
  *     targeting a [[SnapshotCatalog]] becomes a [[LeafRunnableCommand]]
  *     driving the catalog's `ViewCatalog` methods — the shadow guards
  *     (no view over a table, no table over a view) live in the
  *     catalog itself;
  *   - a read of a view name expands IN PLACE to the view's stored SQL
  *     text, parsed and recursively rewritten (view-over-view), with
  *     relative names inside the body qualified against the view's
  *     stored current catalog/namespace. Expansion is pure driver-side
  *     metadata: the final plan is exactly what the user would get
  *     typing the definition inline, so pushdown, file skipping, and
  *     statistics are untouched — at 100 TB a view costs nothing over
  *     its defining query. Re-parsing at every read is the pinned
  *     freshness semantic: a view always serves the CURRENT tip and
  *     CURRENT schema of its base tables (CatalogSpec pins both).
  *
  * Statements that touch no snapshot-catalog view pass through
  * byte-identical, so the wrapper is invisible to the rest of the SQL
  * surface.
  */
class GraftViewParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan = {
    val planned =
      try ViewSql.rewrite(session, delegate, delegate.parsePlan(sqlText), None, 0)
      catch {
        // CREATE/DROP MATERIALIZED VIEW are not in Spark's grammar at
        // all — own them here; anything else re-raises the original
        case pe: org.apache.spark.sql.catalyst.parser.ParseException =>
          ViewSql.parseMaterialized(session, delegate, sqlText).getOrElse(throw pe)
      }
    planned match {
      // MV-serve explain surfacing (round 16): with
      // spark.graft.mv.explain=true, plain `EXPLAIN <query>` appends a
      // "== Materialized View Serving ==" section — the SERVED line or
      // each candidate's bail reason — so the diagnosis lives where
      // users actually look, not only behind CALL explain_mv_serve.
      // ExplainCommand keeps its query as an INNER child the tree
      // rewrite above never descends into, so view expansion is
      // applied to it here explicitly.
      case ec: org.apache.spark.sql.execution.command.ExplainCommand
          if session.conf.get(MvRewrite.ExplainConfKey, "false") == "true" =>
        GraftExplainMvCommand(ec.copy(logicalPlan =
          ViewSql.rewrite(session, delegate, ec.logicalPlan, None, 0)))
      case p => p
    }
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    ViewSql.rewrite(session, delegate, delegate.parseQuery(sqlText), None, 0)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object ViewSql {

  /** Max view-over-view expansion depth — a definition cycle would
    * otherwise recurse forever at parse time. */
  private val MaxDepth = 16

  /** Resolve `parts` to (catalogName, snapshot catalog, identifier)
    * when — and only when — it names an object inside a registered
    * [[SnapshotCatalog]]. `default` carries the stored current
    * catalog/namespace of the view body being expanded, so relative
    * names inside a definition resolve where the view was created,
    * not where it is being read. */
  private def inSnapshotCatalog(
      session: SparkSession,
      parts: Seq[String],
      default: Option[(String, Array[String])]
  ): Option[(String, SnapshotCatalog, Identifier)] = {
    val cm = session.sessionState.catalogManager
    def cat(name: String): Option[SnapshotCatalog] =
      try cm.catalog(name) match {
        case sc: SnapshotCatalog => Some(sc)
        case _                   => None
      } catch { case _: CatalogNotFoundException => None }
    if (parts.length >= 2) {
      cat(parts.head) match {
        case Some(sc) =>
          Some((parts.head, sc,
            Identifier.of(parts.tail.init.toArray, parts.last)))
        case None =>
          // not catalog-qualified: resolve under the expansion default
          // (view bodies) — never under the session current catalog,
          // which for relative names belongs to the built-in resolver
          default.flatMap { case (dc, _) =>
            cat(dc).map(sc =>
              (dc, sc, Identifier.of(parts.init.toArray, parts.last)))
          }
      }
    } else
      default.flatMap { case (dc, dns) =>
        cat(dc).map(sc => (dc, sc, Identifier.of(dns, parts.last)))
      }
  }

  private def nameParts(child: LogicalPlan): Option[Seq[String]] =
    child match {
      case u: UnresolvedIdentifier  => Some(u.nameParts)
      case u: UnresolvedView        => Some(u.multipartIdentifier)
      case u: UnresolvedTableOrView => Some(u.multipartIdentifier)
      case u: UnresolvedNamespace   => Some(u.multipartIdentifier)
      case _                        => None
    }

  /** The parse-time tree rewrite (see class doc). `default` is the
    * (catalog, namespace) context for relative names — `None` at the
    * top level (the session resolver owns those), the view's stored
    * context inside an expansion. */
  private[plans] def rewrite(
      session: SparkSession,
      parser: ParserInterface,
      plan: LogicalPlan,
      default: Option[(String, Array[String])],
      depth: Int
  ): LogicalPlan = {
    def our(parts: Seq[String]) = inSnapshotCatalog(session, parts, default)
    plan.transformDownWithSubqueries {
      case cv: CreateView =>
        nameParts(cv.child).flatMap(our) match {
          case Some((cat, sc, ident)) =>
            GraftCreateViewCommand(
              sc, cat, ident,
              cv.originalText.getOrElse(throw new IllegalArgumentException(
                "snapshot catalog: CREATE VIEW needs the SQL text")),
              // the command is a leaf, so transformDown won't descend
              // into it — expand view references in the query subtree
              // here so schema analysis at run() sees real scans
              rewrite(session, parser, cv.query, default, depth),
              cv.userSpecifiedColumns.map(_._1),
              cv.userSpecifiedColumns.map(_._2.orNull),
              cv.properties, cv.allowExisting, cv.replace)
          case None => cv
        }
      case dv: DropView =>
        nameParts(dv.child).flatMap(our) match {
          case Some((_, sc, ident)) => GraftDropViewCommand(sc, ident, dv.ifExists)
          case None                 => dv
        }
      case av: AlterViewAs =>
        nameParts(av.child).flatMap(our) match {
          case Some((cat, sc, ident)) =>
            GraftAlterViewAsCommand(
              sc, cat, ident, av.originalText,
              rewrite(session, parser, av.query, default, depth))
          case None => av
        }
      case sp: SetViewProperties =>
        nameParts(sp.child).flatMap(our) match {
          case Some((_, sc, ident)) =>
            GraftAlterViewPropsCommand(
              sc, ident,
              sp.properties.toSeq.map { case (k, v) => ViewChange.setProperty(k, v) })
          case None => sp
        }
      case up: UnsetViewProperties =>
        nameParts(up.child).flatMap(our) match {
          case Some((_, sc, ident)) =>
            GraftAlterViewPropsCommand(
              sc, ident, up.propertyKeys.map(ViewChange.removeProperty))
          case None => up
        }
      case rt: RenameTable if rt.isView =>
        nameParts(rt.child).flatMap(our) match {
          case Some((cat, sc, from)) =>
            val to =
              if (rt.newName.length >= 2 && rt.newName.head == cat)
                Identifier.of(rt.newName.tail.init.toArray, rt.newName.last)
              else if (rt.newName.length >= 2)
                Identifier.of(rt.newName.init.toArray, rt.newName.last)
              else Identifier.of(from.namespace, rt.newName.last)
            GraftRenameViewCommand(sc, from, to)
          case None => rt
        }
      case sv: ShowViews =>
        nameParts(sv.namespace).flatMap(our2(session, _)) match {
          case Some((_, sc, ns)) => GraftShowViewsCommand(sc, ns, sv.pattern, sv.output)
          case None              => sv
        }
      case sp: ShowTableProperties
          if nameParts(sp.table).flatMap(our)
            .exists { case (_, sc, id) => sc.viewExists(id) } =>
        val (_, sc, ident) = nameParts(sp.table).flatMap(our).get
        GraftShowViewPropsCommand(sc, ident, sp.propertyKey, sp.output)
      // Spark 4.1's grammar parses CREATE MATERIALIZED VIEW as a
      // Declarative-Pipelines dataset whose direct execution refuses —
      // reclaim it for the snapshot catalog's managed MVs
      case cmv: CreateMaterializedViewAsSelect =>
        nameParts(cmv.name).flatMap(our) match {
          case Some((cat, sc, ident)) =>
            val (srcParts, key, agg, kind, keyExpr, avgExact, aggExpr,
              joinType, joinSpec, aggExprs) = mvShape(cmv.query)
            val (_, srcSc, srcIdent) =
              inSnapshotCatalog(session, srcParts, Some((cat, ident.namespace)))
                .getOrElse(throw new IllegalArgumentException(
                  "CREATE MATERIALIZED VIEW: the source must be a snapshot-" +
                    s"catalog table, got '${srcParts.mkString(".")}'"))
            GraftCreateMvCommand(
              sc, ident, srcSc, srcIdent, key, agg, kind, keyExpr, avgExact,
              aggExpr, joinType, aggExprs,
              joinSpec.map { case (dimParts, fk, pk) =>
                val (_, dimSc, dimIdent) = inSnapshotCatalog(
                  session, dimParts, Some((cat, ident.namespace)))
                  .getOrElse(throw new IllegalArgumentException(
                    "CREATE MATERIALIZED VIEW: the join dim must be a " +
                      s"snapshot-catalog table, got '${dimParts.mkString(".")}'"))
                (dimSc, dimIdent, fk, pk)
              })
          case None => cmv
        }
      case r: UnresolvedRelation if !r.isStreaming && depth < MaxDepth =>
        our(r.multipartIdentifier) match {
          case Some((cat, sc, ident)) if sc.viewExists(ident) =>
            expand(session, parser, cat, sc, ident, depth)
          case Some((cat, _, ident)) if r.multipartIdentifier.length < 3 =>
            // a relative TABLE name inside a view body: qualify it so
            // it keeps resolving in the view's home catalog
            r.copy(multipartIdentifier =
              (cat +: ident.namespace.toSeq) :+ ident.name)
          case _ => r
        }
    }
  }

  private val CreateMvRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([^\s(]+)\s+AS\s+(SELECT\b.*)$""".r
  private val DropMvRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([^\s;]+)\s*;?\s*$""".r
  private val RefreshMvRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([^\s;]+)\s*;?\s*$""".r

  /** The MATERIALIZED VIEW statements Spark's grammar rejects outright
    * (`DROP MATERIALIZED VIEW`; `REFRESH MATERIALIZED VIEW`, whose
    * unquoted-path rule refuses spaces) plus a safety net for CREATE
    * variants the pipelines grammar rejects — the normal CREATE path
    * parses as [[CreateMaterializedViewAsSelect]] and is reclaimed in
    * [[rewrite]]. Both CREATE paths accept EXACTLY the rollup shapes
    * [[graft.sources.SnapshotLog.createMv]] can maintain incrementally
    * — one grouping column over one source table with the maintained
    * aliases — and refuse everything else loudly, naming the three
    * shapes. A silent best-effort fallback would create an MV whose
    * refresh recomputes the world; better no MV than a lying one. */
  private[plans] def parseMaterialized(
      session: SparkSession,
      parser: ParserInterface,
      sqlText: String
  ): Option[LogicalPlan] = sqlText match {
    case CreateMvRe(identText, query) =>
      val parts = parser.parseMultipartIdentifier(identText)
      val (cat, sc, ident) = inSnapshotCatalog(session, parts, None).getOrElse(
        throw new IllegalArgumentException(
          "CREATE MATERIALIZED VIEW targets a snapshot catalog " +
            s"(qualify the name), got '$identText'"))
      val (srcParts, key, agg, kind, keyExpr, avgExact, aggExpr, joinType,
        joinSpec, aggExprs) = mvShape(parser.parseQuery(query))
      val (_, srcSc, srcIdent) =
        inSnapshotCatalog(session, srcParts, Some((cat, ident.namespace)))
          .getOrElse(throw new IllegalArgumentException(
            "CREATE MATERIALIZED VIEW: the source must be a snapshot-" +
              s"catalog table, got '${srcParts.mkString(".")}'"))
      Some(GraftCreateMvCommand(
        sc, ident, srcSc, srcIdent, key, agg, kind, keyExpr, avgExact,
        aggExpr, joinType, aggExprs,
        joinSpec.map { case (dimParts, fk, pk) =>
          val (_, dimSc, dimIdent) = inSnapshotCatalog(
            session, dimParts, Some((cat, ident.namespace)))
            .getOrElse(throw new IllegalArgumentException(
              "CREATE MATERIALIZED VIEW: the join dim must be a " +
                s"snapshot-catalog table, got '${dimParts.mkString(".")}'"))
          (dimSc, dimIdent, fk, pk)
        }))
    case DropMvRe(ifExists, identText) =>
      val parts = parser.parseMultipartIdentifier(identText)
      inSnapshotCatalog(session, parts, None) match {
        case Some((_, sc, ident)) =>
          Some(GraftDropMvCommand(sc, ident, ifExists != null))
        case None =>
          throw new IllegalArgumentException(
            "DROP MATERIALIZED VIEW targets a snapshot catalog " +
              s"(qualify the name), got '$identText'")
      }
    case RefreshMvRe(identText) =>
      val parts = parser.parseMultipartIdentifier(identText)
      inSnapshotCatalog(session, parts, None) match {
        case Some((_, sc, ident)) => Some(GraftRefreshMvCommand(sc, ident))
        case None =>
          throw new IllegalArgumentException(
            "REFRESH MATERIALIZED VIEW targets a snapshot catalog " +
              s"(qualify the name), got '$identText'")
      }
    case _ => None
  }

  /** Match the unanalyzed rollup query against the maintainable
    * shapes; anything else refuses naming them. The grouping may be a
    * plain column OR a derived time grain — `to_date(col)` (day),
    * `trunc(to_date(col), 'month'|'year')`, `date_trunc('hour', col)`,
    * matching the partition-transform surface — whose expression text
    * is recorded so the refresh derives the same key over every delta.
    * The stats shape may append `count(a) AS mv_nn` (the non-null
    * measure count): that IS the registrant's declaration that `a` is
    * integral-valued and `avg(a)` may serve from the rollup
    * ([[graft.sources.SnapshotLog.createMv]]'s avgExact). */
  private def mvShape(
      query: LogicalPlan
  ): (Seq[String], String, String, String, Option[String], Boolean,
      Option[String], String,
      Seq[(Seq[String], String, String)], Map[String, String]) = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedStar}
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, Literal, Multiply}
    val shapes =
      "SELECT k, sum(a) AS mv_sum, count(*) AS mv_n FROM t GROUP BY k | " +
        "SELECT k, min(a) AS mv_min, max(a) AS mv_max, count(*) AS mv_n " +
        "FROM t GROUP BY k | " +
        "SELECT k, sum(a) AS mv_sum, sum(a*a) AS mv_sumsq, count(*) AS mv_n " +
        "[, count(a) AS mv_nn] FROM t GROUP BY k | " +
        "SELECT k, count(DISTINCT a|<expr>) AS mv_dc, count(*) AS mv_n " +
        "FROM t GROUP BY k | " +
        "SELECT k, hll_sketch_agg(a|<expr>) AS mv_hll, count(*) AS mv_n " +
        "FROM t GROUP BY k — APPROXIMATE distinct " +
        "(serves approx_count_distinct only) (k may also be " +
        "`to_date(col) AS day`, `trunc(to_date(col), 'month'|'year') " +
        "AS m`, or `date_trunc('hour', col) AS h`) | " +
        "SELECT k, sum(<expr>) AS mv_sum, count(*) AS mv_n FROM t " +
        "GROUP BY k — a deterministic EXPRESSION measure, e.g. " +
        "sum(price * (100 - disc)) | " +
        "SELECT k, sum(<expr1>) AS mv_sum_<name1>, sum(<expr2>) AS " +
        "mv_sum_<name2>[, sum(col) AS mv_sum_<col>, ...], count(*) AS " +
        "mv_n FROM t GROUP BY k — MULTIPLE measures, each derived one " +
        "named by its alias suffix (the stored measure name), plain " +
        "columns aliased mv_sum_<col> | " +
        "any of the above over ONE inner or LEFT [OUTER] join — SELECT " +
        "d.k, ... FROM f [AS f] [LEFT] JOIN d [AS d] ON f.fk = d.pk " +
        "GROUP BY d.k, every column qualified, keys from the dim, " +
        "measures from the fact, fact on the LEFT for a left join " +
        "(expression measures: single-table form only) | " +
        "the same over a STAR or SNOWFLAKE chain of INNER joins — " +
        "FROM f JOIN d1 ON f.fk1 = d1.pk1 JOIN d2 ON <fk2> = d2.pk2 " +
        "..., the fact FIRST, each ON binding the newly joined dim's " +
        "pk to a column of the fact or an earlier dim"
    def refuse(why: String): Nothing =
      throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW: $why. Incrementally-maintainable " +
          s"shapes (exact aliases required): $shapes")
    sealed trait Arg
    case class ColArg(n: String) extends Arg
    case class SqArg(n: String) extends Arg
    case object StarArg extends Arg
    // an EXPRESSION measure (round 16): sum(<arbitrary expr>) in the
    // single-table form — the parse-tree SQL text is recorded verbatim
    // (MvDecl.measureExprs) so the refresh re-derives and the serve rule
    // matches the same expression forever
    case class XArg(text: String) extends Arg
    // `res` resolves an aggregate-argument attribute to its bare
    // column name: single-part names in the single-table form,
    // fact-qualified two-part names in the join form
    def parseAggWith(
        res: UnresolvedAttribute => Option[String],
        allowExpr: Boolean = false,
        // expression-measure argument rewrite (round 19, the join
        // forms): the single-table form records the parse-tree SQL
        // verbatim (identity); the join forms must strip the FACT
        // qualifier from every attribute first — createJoinMv resolves
        // the recorded text against the bare fact frame — and a
        // dim-qualified or unqualified attribute inside the expression
        // makes the rewrite fail, so the item refuses as unsupported
        // rather than recording a text that could never re-derive
        xRewrite: Expression => Option[Expression] = Some(_))(
        e: Expression): Option[(String, String, Arg)] = e match {
      case al @ Alias(u: UnresolvedFunction, _)
          if !u.isDistinct && u.filter.isEmpty =>
        val fn = u.nameParts.map(_.toLowerCase).mkString(".")
        u.arguments match {
          case Seq(a: UnresolvedAttribute) =>
            res(a).map(n => (fn, al.name, ColArg(n)))
          case Seq(Multiply(a: UnresolvedAttribute, b: UnresolvedAttribute, _))
              if a.nameParts == b.nameParts =>
            res(a).map(n => (fn, al.name, SqArg(n)))
          case Seq(_: UnresolvedStar) => Some((fn, al.name, StarArg))
          case Seq(Literal(1, _))     => Some((fn, al.name, StarArg))
          // any OTHER single argument of sum / hll_sketch_agg is an
          // expression measure — its SQL text is the declaration
          // (single-table form only; props-safety and determinism are
          // checked in createMv). Round 18 widens the r16 sum-only
          // gate to the hll sketch (approx distinct of a derived id).
          case Seq(other)
              if allowExpr && (fn == "sum" || fn == "hll_sketch_agg") =>
            xRewrite(other).map(o => (fn, al.name, XArg(o.sql)))
          case _                      => None
        }
      // count(DISTINCT a) — the ONE distinct aggregate with an exact
      // incrementally-maintainable partial (the bitmap kind); tagged
      // with its own fn name so it can never classify as a plain count
      case al @ Alias(u: UnresolvedFunction, _)
          if u.isDistinct && u.filter.isEmpty &&
            u.nameParts.map(_.toLowerCase).mkString(".") == "count" =>
        u.arguments match {
          case Seq(a: UnresolvedAttribute) =>
            res(a).map(n => ("count_distinct", al.name, ColArg(n)))
          // count(DISTINCT <expr>) — the r17 expression-measure
          // distinct kind, reachable from DDL since round 18
          // (single-table form only; a bare attribute that failed
          // `res` above must refuse, not become an expression)
          case Seq(other)
              if allowExpr && !other.isInstanceOf[UnresolvedAttribute] =>
            xRewrite(other).map(o => ("count_distinct", al.name, XArg(o.sql)))
          case _ => None
        }
      case _ => None
    }
    val parseAgg: Expression => Option[(String, String, Arg)] =
      parseAggWith(
        a => if (a.nameParts.length == 1) Some(a.nameParts.head) else None,
        allowExpr = true)
    // the join forms' expression-measure rewrite: strip the fact
    // qualifier from every attribute (res already answers only for
    // fact-side two-part names); any dim-qualified or unqualified
    // attribute fails the rewrite and the item refuses as unsupported
    def factExprRewrite(
        res: UnresolvedAttribute => Option[String]
    ): Expression => Option[Expression] = ex => {
      var ok = true
      val out = ex.transform {
        case ua: UnresolvedAttribute =>
          res(ua) match {
            case Some(n) => UnresolvedAttribute(Seq(n))
            case None    => ok = false; ua
          }
      }
      if (ok) Some(out) else None
    }
    // the derived grains (round 15 widens round 14's day grain to the
    // partition-transform surface): to_date(col) — day;
    // trunc(to_date(col), 'month'|'year'); date_trunc('hour', col).
    // Each normalizes its level synonym so the recorded text is
    // canonical (the serve rule matches it structurally).
    def strLit(e: Expression): Option[String] = e match {
      case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
        Some(s.toString)
      case _ => None
    }
    def fnName(u: UnresolvedFunction): String =
      u.nameParts.map(_.toLowerCase).mkString(".")
    def plainFn(u: UnresolvedFunction): Boolean =
      !u.isDistinct && u.filter.isEmpty
    // the grain functions resolve their column argument through `res`
    // (round 19): single-part names in the single-table form; the join
    // forms pass their fact-side resolver, so a mixed-grain DDL key
    // like `to_date(f.ts)` records the bare canonical text createJoinMv
    // re-derives against the fact frame
    def toDateArgWith(res: UnresolvedAttribute => Option[String])(
        e: Expression): Option[String] = e match {
      case u: UnresolvedFunction
          if fnName(u) == "to_date" && plainFn(u) =>
        u.arguments match {
          case Seq(a: UnresolvedAttribute) => res(a)
          case _                           => None
        }
      case _ => None
    }
    def derivedKeyWith(res: UnresolvedAttribute => Option[String])(
        e: Expression): Option[String] = e match {
      case u: UnresolvedFunction if fnName(u) == "to_date" =>
        toDateArgWith(res)(e).map(c => s"to_date($c)")
      case u: UnresolvedFunction
          if fnName(u) == "trunc" && plainFn(u) =>
        u.arguments match {
          case Seq(inner, lvl) =>
            for {
              c <- toDateArgWith(res)(inner)
              l <- strLit(lvl).flatMap(graft.plans.MvRewrite.normLevel)
              if l == "month" || l == "year"
            } yield s"trunc(to_date($c), '$l')"
          case _ => None
        }
      case u: UnresolvedFunction
          if fnName(u) == "date_trunc" && plainFn(u) =>
        u.arguments match {
          case Seq(lvl, a: UnresolvedAttribute) =>
            for {
              l <- strLit(lvl).flatMap(graft.plans.MvRewrite.normLevel)
              if l == "hour"
              c <- res(a)
            } yield s"date_trunc('$l', $c)"
          case _ => None
        }
      case _ => None
    }
    val singlePartRes: UnresolvedAttribute => Option[String] =
      a => if (a.nameParts.length == 1) Some(a.nameParts.head) else None
    def derivedKey(e: Expression): Option[String] =
      derivedKeyWith(singlePartRes)(e)
    // kind classification over parsed aggregate items — shared by the
    // single-table and join forms (same kinds, same exact aliases).
    // MULTI-MEASURE (round 15): each kind repeats its per-measure
    // block with EXACT aliases — bare names for one measure (mv_sum),
    // suffixed per measure otherwise (mv_sum_<m>) — matching the
    // createMv naming the refresh fold and the serve rule resolve.
    // Exactly one count(*) AS mv_n is always required; stats may
    // append count(m) AS mv_nn[_<m>] for EVERY measure — the
    // avg-serve declaration.
    def classify(
        rest: Seq[Expression],
        pa: Expression => Option[(String, String, Arg)]
    ): (String, Seq[String], Boolean, Option[String], Map[String, String]) = {
      val parsed = rest.map(pa)
      if (parsed.exists(_.isEmpty))
        refuse("unsupported aggregate expression")
      val items = parsed.flatten.toList
      if (items.count {
            case ("count", "mv_n", StarArg) => true
            case _                          => false
          } != 1)
        refuse("exactly one count(*) AS mv_n is required")
      val nonCount = items.filterNot {
        case ("count", "mv_n", StarArg) => true
        case _                          => false
      }
      val (core, nnPart) = nonCount.partition {
        case ("count", _, ColArg(_)) => false
        case _                       => true
      }
      def an(base: String, m: String, multi: Boolean): String =
        if (multi) s"${base}_$m" else base
      def nnMatches(xs: Seq[String], multi: Boolean): Boolean =
        nnPart.collect { case ("count", a, ColArg(x)) => (a, x) } ==
          xs.map(x => (an("mv_nn", x, multi), x)).toList
      val classified: Option[(String, Seq[String], Boolean, Option[String],
          Map[String, String])] = {
        val sums = core.collect { case ("sum", a, ColArg(x)) => (a, x) }
        if (core.nonEmpty && sums.size == core.size) {
          val multi = sums.size > 1
          val xs = sums.map(_._2)
          if (sums.forall { case (a, x) => a == an("mv_sum", x, multi) } &&
            xs.distinct.size == xs.size && nnPart.isEmpty)
            Some(("sum", xs, false, None, Map.empty[String, String]))
          else None
        } else None
      }.orElse {
        // ONE sum(<expr>) AS mv_sum — the expression-measure form
        // (round 16): the expression text is the declaration; the
        // stored measure name is the fixed 'mv_val' (createMv refuses
        // it if the source already has a column of that name)
        core match {
          case List(("sum", "mv_sum", XArg(text))) if nnPart.isEmpty =>
            Some(("sum", Seq("mv_val"), false, Some(text), Map.empty[String, String]))
          case _ => None
        }
      }.orElse {
        // MULTI-EXPRESSION measures (round 18): two or more sums with
        // at least one derived argument — the DDL SELECT list IS the
        // natural multi-expression spelling. Each derived measure is
        // `sum(<expr>) AS mv_sum_<name>` (its alias suffix becomes the
        // stored measure name, exactly the multi-measure column
        // convention the refresh fold and serve rule resolve); plain
        // columns keep `sum(x) AS mv_sum_x` and mix freely. One MV,
        // one fold, every measure maintained together — the library
        // aggExprs surface, reachable from pure SQL.
        if (core.size >= 2 && nnPart.isEmpty && core.forall(_._1 == "sum") &&
          core.exists { case (_, _, XArg(_)) => true; case _ => false }) {
          val items2: Seq[Option[(String, Option[String])]] = core.map {
            case ("sum", a, ColArg(x)) if a == s"mv_sum_$x" =>
              Some((x, None))
            case ("sum", a, XArg(t))
                if a.startsWith("mv_sum_") && a.length > "mv_sum_".length =>
              Some((a.stripPrefix("mv_sum_"), Some(t)))
            case _ => None
          }
          if (items2.forall(_.isDefined)) {
            val ms = items2.flatten
            val names = ms.map(_._1)
            val xm: Map[String, String] =
              ms.collect { case (n, Some(t)) => (n, t) }.toMap
            if (names.distinct.size == names.size)
              Some(("sum", names, false, None, xm))
            else None
          } else None
        } else None
      }.orElse {
        if (core.size >= 2 && core.size % 2 == 0) {
          val ps = core.grouped(2).toList.map {
            case List(("sum", a1, ColArg(x)), ("sum", a2, SqArg(y)))
                if x == y =>
              Some((a1, a2, x))
            case _ => None
          }
          if (ps.forall(_.isDefined)) {
            val got = ps.map(_.get)
            val multi = got.size > 1
            val xs = got.map(_._3)
            if (got.forall { case (a1, a2, x) =>
                a1 == an("mv_sum", x, multi) &&
                  a2 == an("mv_sumsq", x, multi)
              } && xs.distinct.size == xs.size &&
              (nnPart.isEmpty || nnMatches(xs, multi)))
              Some(("stats", xs, nnPart.nonEmpty, None, Map.empty[String, String]))
            else None
          } else None
        } else None
      }.orElse {
        if (core.size >= 2 && core.size % 2 == 0 && nnPart.isEmpty) {
          val ps = core.grouped(2).toList.map {
            case List(("min", a1, ColArg(x)), ("max", a2, ColArg(y)))
                if x == y =>
              Some((a1, a2, x))
            case _ => None
          }
          if (ps.forall(_.isDefined)) {
            val got = ps.map(_.get)
            val multi = got.size > 1
            val xs = got.map(_._3)
            if (got.forall { case (a1, a2, x) =>
                a1 == an("mv_min", x, multi) &&
                  a2 == an("mv_max", x, multi)
              } && xs.distinct.size == xs.size)
              Some(("minmax", xs, false, None, Map.empty[String, String]))
            else None
          } else None
        } else None
      }.orElse {
        // ONE count(DISTINCT a) AS mv_dc → the bitmap kind (a second
        // distinct-counted column has its own bucket space — one MV
        // per column, enforced by createMv too)
        core match {
          case List(("count_distinct", a, ColArg(x)))
              if a == "mv_dc" && nnPart.isEmpty =>
            Some(("distinct", Seq(x), false, None, Map.empty[String, String]))
          // count(DISTINCT <expr>) AS mv_dc — the expression
          // materializes under the fixed 'mv_val' stored name
          // (round 18; createMv's integral gate judges the resolved
          // expression, naming hash_distinct as the remedy for
          // non-integral ones — the CALL surface spells it)
          case List(("count_distinct", "mv_dc", XArg(text)))
              if nnPart.isEmpty =>
            Some(("distinct", Seq("mv_val"), false, Some(text),
              Map.empty[String, String]))
          case _ => None
        }
      }.orElse {
        // ONE hll_sketch_agg(a) AS mv_hll → the APPROXIMATE distinct
        // kind (round 16): the user spells the sketch aggregate
        // itself — that IS the estimator declaration
        core match {
          case List(("hll_sketch_agg", a, ColArg(x)))
              if a == "mv_hll" && nnPart.isEmpty =>
            Some(("hll", Seq(x), false, None, Map.empty[String, String]))
          // hll_sketch_agg(<expr>) AS mv_hll — the round-18
          // hll-expression kind, spelled directly in DDL; the sketch
          // is built over the materialized expression column
          case List(("hll_sketch_agg", "mv_hll", XArg(text)))
              if nnPart.isEmpty =>
            Some(("hll", Seq("mv_val"), false, Some(text),
              Map.empty[String, String]))
          case _ => None
        }
      }
      classified.getOrElse(
        refuse("the aggregate list matches none of the shapes"))
    }
    // the JOIN form (round 15): ONE inner equi-join, every column
    // qualified by table name or alias, grouping keys all from the
    // DIM side, measures all from the FACT side — classified into the
    // same kinds and handed to createJoinMv (dim version pinned
    // there). A derived time grain does not combine with a join.
    def joinShape(
        a: Aggregate,
        j: Join
    ): (Seq[String], String, String, String, Option[String], Boolean,
        Option[String], String,
        Seq[(Seq[String], String, String)], Map[String, String]) = {
      import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
      def relOf(p: LogicalPlan): Option[(Seq[String], String)] = p match {
        case r: UnresolvedRelation =>
          Some((r.multipartIdentifier, r.multipartIdentifier.last))
        case SubqueryAlias(id, r: UnresolvedRelation) =>
          Some((r.multipartIdentifier, id.name))
        case _ => None
      }
      // MULTI-JOIN form (round 16): FROM f JOIN d1 ON … JOIN d2 ON …
      // parses as a left-deep Join chain — hand it to starShape (the
      // single-join form below keeps its two orientations and the
      // LEFT variant)
      if (j.left.isInstanceOf[Join]) return starShape(a, j, relOf)
      if (j.joinType != Inner && j.joinType != LeftOuter)
        refuse("only an INNER or LEFT [OUTER] join rollup is " +
          "incrementally maintainable")
      val (lParts, lAl) = relOf(j.left)
        .getOrElse(refuse("each join side must be a single table"))
      val (rParts, rAl) = relOf(j.right)
        .getOrElse(refuse("each join side must be a single table"))
      def sideOf(x: UnresolvedAttribute): Option[Boolean] = x.nameParts match {
        case Seq(q, _) if q.equalsIgnoreCase(lAl) => Some(true)
        case Seq(q, _) if q.equalsIgnoreCase(rAl) => Some(false)
        case _                                    => None
      }
      val (lk, rk) = j.condition match {
        case Some(EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute)) =>
          (sideOf(x), sideOf(y)) match {
            case (Some(true), Some(false)) => (x, y)
            case (Some(false), Some(true)) => (y, x)
            case _ =>
              refuse("the ON condition must equate one qualified column " +
                "per side (f.fk = d.pk)")
          }
        case _ =>
          refuse("the ON condition must be a single equi-join (f.fk = d.pk)")
      }
      // MIXED-GRAIN rollups (round 19): the LAST grouping may be a
      // derived FACT time grain — `to_date(f.ts)` and the other grain
      // functions — the DDL spelling of createJoinMv's keyExpr
      // ("revenue by segment AND month"). The grain must come last
      // (createJoinMv stores it as the last keyCol member), its
      // column must be fact-qualified, and at least one dim attribute
      // must remain in the grain.
      val (dimGroupEs, grainE) = a.groupingExpressions match {
        case gs if gs.nonEmpty && !gs.last.isInstanceOf[UnresolvedAttribute] =>
          (gs.init, Some(gs.last))
        case gs => (gs, None)
      }
      val gAttrs = dimGroupEs.map {
        case ga: UnresolvedAttribute => ga
        case _ =>
          refuse("join-form groupings must be plain qualified dim columns " +
            "(one derived fact time grain may come LAST)")
      }
      val gsides = gAttrs.map(ga =>
        sideOf(ga).getOrElse(
          refuse("qualify every grouping column with its table or alias")))
      if (gsides.isEmpty || gsides.distinct.size != 1)
        refuse("all grouping columns must come from ONE side (the dim)")
      val dimLeft = gsides.head
      // a LEFT OUTER rollup preserves the FACT side — it must be the
      // LEFT operand (dim on the right), matching the serve rule's
      // direction-sensitive match
      if (j.joinType == LeftOuter && dimLeft)
        refuse("a LEFT join rollup preserves the FACT side — write " +
          "FROM fact LEFT JOIN dim, grouping by dim columns")
      val factRes: UnresolvedAttribute => Option[String] = x =>
        sideOf(x).filter(_ != dimLeft).map(_ => x.nameParts.last)
      val dimNames = gAttrs.map(_.nameParts.last)
      val lead =
        a.aggregateExpressions.take(dimNames.size + grainE.size)
      val leadDim = lead.take(dimNames.size).collect {
        case k: UnresolvedAttribute if sideOf(k).contains(dimLeft) =>
          k.nameParts.last
      }
      if (leadDim != dimNames)
        refuse("the select list must lead with the grouping columns in " +
          "GROUP BY order")
      val grain: Option[(String, String)] = grainE.map { gfn =>
        val text = derivedKeyWith(factRes)(gfn).getOrElse(
          refuse("the derived fact grain must be to_date(f.col), " +
            "trunc(to_date(f.col), 'month'|'year') or " +
            "date_trunc('hour', f.col) with a fact-qualified column"))
        lead.drop(dimNames.size) match {
          case Seq(al @ Alias(fe, _))
              if derivedKeyWith(factRes)(fe).contains(text) =>
            (al.name, text)
          case _ =>
            refuse("the select list must follow the dim columns with " +
              "the aliased derived grain, e.g. to_date(f.ts) AS day")
        }
      }
      val names = dimNames ++ grain.map(_._1)
      // EXPRESSION measures in the join form (round 19): the DDL
      // spelling of createJoinMv's aggExpr/aggExprs — sum(f.cents *
      // (100 - f.disc)) AS mv_sum. Every attribute inside must be
      // fact-qualified (the recorded text re-derives against the
      // bare fact frame; a dim reference would change with dim churn
      // the fact fold can never see — createJoinMv refuses it too,
      // this just refuses at parse with the shape message).
      val (k, xs, avgE, xe, xm) =
        classify(
          a.aggregateExpressions.drop(names.size),
          parseAggWith(factRes, allowExpr = true,
            xRewrite = factExprRewrite(factRes)))
      val (factParts, dimParts) = if (dimLeft) (rParts, lParts) else (lParts, rParts)
      val (fkA, pkA) = if (dimLeft) (rk, lk) else (lk, rk)
      (factParts, names.mkString(","), xs.mkString(","), k,
        grain.map(_._2), avgE, xe,
        if (j.joinType == LeftOuter) "left" else "inner",
        Seq((dimParts, fkA.nameParts.last, pkA.nameParts.last)), xm)
    }
    // the STAR / SNOWFLAKE form (round 16): two or more INNER
    // equi-joins, FROM-clause order, the FACT first. Each ON equates
    // the newly joined dim's pk with a column of the fact or an
    // EARLIER dim (the snowflake chain); grouping keys come from the
    // dims, measures from the fact. Handed to createJoinMv as aligned
    // lists — its declaration guards (fk ownership, key ownership,
    // measure collisions, pk uniqueness) are the authority.
    def starShape(
        a: Aggregate,
        j: Join,
        relOf: LogicalPlan => Option[(Seq[String], String)]
    ): (Seq[String], String, String, String, Option[String], Boolean,
        Option[String], String,
        Seq[(Seq[String], String, String)], Map[String, String]) = {
      import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
      // round 17: an all-LEFT chain declares a left star; round 18:
      // inner and left edges MIX freely — each ON records its own
      // type, NULL buckets live only on the left edges (createJoinMv
      // re-validates the snowflake-through-a-left-dim refusal)
      def flatten(
          p: LogicalPlan
      ): Option[(Seq[(Seq[String], String)],
          Seq[(Expression, String)])] = p match {
        case jj: Join if jj.joinType == Inner || jj.joinType == LeftOuter =>
          val here = if (jj.joinType == LeftOuter) "left" else "inner"
          for {
            (ls, lcs) <- flatten(jj.left)
            r <- relOf(jj.right)
            c <- jj.condition
          } yield (ls :+ r, lcs :+ (c -> here))
        case jj: Join =>
          refuse("a multi-join rollup joins with INNER or LEFT [OUTER] " +
            "only")
        case other =>
          relOf(other).map(r =>
            (Seq(r), Seq.empty[(Expression, String)]))
      }
      val (rels, condsTyped) = flatten(j).getOrElse(
        refuse("each join input must be a single table — write the star " +
          "as FROM fact JOIN dim1 ON … JOIN dim2 ON …"))
      val conds = condsTyped.map(_._1)
      val starTypes = condsTyped.map(_._2)
      def sideIdx(x: UnresolvedAttribute): Option[Int] = x.nameParts match {
        case Seq(q, _) =>
          rels.zipWithIndex.collectFirst {
            case ((_, al), i) if q.equalsIgnoreCase(al) => i
          }
        case _ => None
      }
      // condition i binds rels(i+1): its pk on the new dim, its fk on
      // the fact or an earlier dim
      val fkpk: Seq[(String, String)] = conds.zipWithIndex.map {
        case (EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute), i) =>
          (sideIdx(x), sideIdx(y)) match {
            case (Some(ix), Some(iy)) if ix == i + 1 && iy <= i =>
              (y.nameParts.last, x.nameParts.last)
            case (Some(ix), Some(iy)) if iy == i + 1 && ix <= i =>
              (x.nameParts.last, y.nameParts.last)
            case _ =>
              refuse("each ON must equate the newly joined dim's pk with " +
                "a qualified column of the fact or an earlier dim")
          }
        case _ =>
          refuse("each ON condition must be a single equi-join (fk = pk)")
      }
      // MIXED-GRAIN star (round 19): same contract as the single-join
      // form — one derived fact time grain may come LAST in GROUP BY
      val (dimGroupEs, grainE) = a.groupingExpressions match {
        case gs if gs.nonEmpty && !gs.last.isInstanceOf[UnresolvedAttribute] =>
          (gs.init, Some(gs.last))
        case gs => (gs, None)
      }
      val dimNames = dimGroupEs.map {
        case ga: UnresolvedAttribute =>
          sideIdx(ga) match {
            case Some(i) if i >= 1 => ga.nameParts.last
            case Some(_) =>
              refuse("multi-join grouping keys come from the dims, not " +
                "the fact")
            case None =>
              refuse("qualify every grouping column with its table or alias")
          }
        case _ =>
          refuse("multi-join groupings must be plain qualified dim columns " +
            "(one derived fact time grain may come LAST)")
      }
      if (dimNames.isEmpty) refuse("a multi-join rollup needs grouping keys")
      val factRes: UnresolvedAttribute => Option[String] = x =>
        sideIdx(x).filter(_ == 0).map(_ => x.nameParts.last)
      val lead =
        a.aggregateExpressions.take(dimNames.size + grainE.size)
      val leadDim = lead.take(dimNames.size).collect {
        case k: UnresolvedAttribute if sideIdx(k).exists(_ >= 1) =>
          k.nameParts.last
      }
      if (leadDim != dimNames)
        refuse("the select list must lead with the grouping columns in " +
          "GROUP BY order")
      val grain: Option[(String, String)] = grainE.map { gfn =>
        val text = derivedKeyWith(factRes)(gfn).getOrElse(
          refuse("the derived fact grain must be to_date(f.col), " +
            "trunc(to_date(f.col), 'month'|'year') or " +
            "date_trunc('hour', f.col) with a fact-qualified column"))
        lead.drop(dimNames.size) match {
          case Seq(al @ Alias(fe, _))
              if derivedKeyWith(factRes)(fe).contains(text) =>
            (al.name, text)
          case _ =>
            refuse("the select list must follow the dim columns with " +
              "the aliased derived grain, e.g. to_date(f.ts) AS day")
        }
      }
      val names = dimNames ++ grain.map(_._1)
      // expression measures over the star form too (round 19) — same
      // fact-qualified-only contract as the single-join form
      val (k, xs, avgE, xe, xm) =
        classify(
          a.aggregateExpressions.drop(names.size),
          parseAggWith(factRes, allowExpr = true,
            xRewrite = factExprRewrite(factRes)))
      (rels.head._1, names.mkString(","), xs.mkString(","), k,
        grain.map(_._2), avgE, xe, starTypes.mkString(","),
        rels.tail.zip(fkpk).map { case ((dimParts, _), (fk, pk)) =>
          (dimParts, fk, pk)
        }, xm)
    }
    query match {
      case a: Aggregate =>
        a.child match {
          case r: UnresolvedRelation =>
            val (g, keyExpr, rest) = a.groupingExpressions match {
              case Seq(ga: UnresolvedAttribute) if ga.nameParts.length == 1 =>
                a.aggregateExpressions match {
                  case Seq(k: UnresolvedAttribute, more @ _*)
                      if k.nameParts == ga.nameParts =>
                    (ga.nameParts.head, None, more)
                  case _ =>
                    refuse("the select list must lead with the grouping column")
                }
              case Seq(fn) if derivedKey(fn).isDefined =>
                a.aggregateExpressions match {
                  case Seq(al @ Alias(fe, _), more @ _*)
                      if derivedKey(fe) == derivedKey(fn) =>
                    (al.name, derivedKey(fn), more)
                  case _ =>
                    refuse("the select list must lead with the aliased derived " +
                      "key, e.g. to_date(ts) AS day")
                }
              // COMPOSITE plain keys (round 15): GROUP BY k1, k2[, ...] with
              // the select list leading with the same columns in the same
              // order — recorded comma-joined; the serve rule answers the
              // full grain 1:1 and any subset by re-aggregation
              case gs
                  if gs.size > 1 && gs.forall {
                    case ga: UnresolvedAttribute => ga.nameParts.length == 1
                    case _                       => false
                  } =>
                val names =
                  gs.map(_.asInstanceOf[UnresolvedAttribute].nameParts.head)
                val lead = a.aggregateExpressions.take(gs.size)
                val leadNames = lead.collect {
                  case k: UnresolvedAttribute if k.nameParts.length == 1 =>
                    k.nameParts.head
                }
                if (leadNames != names)
                  refuse("the select list must lead with the grouping columns " +
                    "in GROUP BY order")
                (names.mkString(","), None, a.aggregateExpressions.drop(gs.size))
              case _ =>
                refuse("the grouping must be plain column(s), to_date(col), " +
                  "trunc(to_date(col), 'month'|'year'), or date_trunc('hour', col)")
            }
            val (k, xs, avgE, xe, xm) = classify(rest, parseAgg)
            (r.multipartIdentifier, g, xs.mkString(","), k, keyExpr, avgE, xe,
              "inner", Nil, xm)
          case jn: Join => joinShape(a, jn)
          case _ =>
            refuse("the source must be a single table or ONE inner join " +
              "(no subqueries)")
        }
      case _ => refuse("the query must be a GROUP BY rollup")
    }
  }

  /** ShowViews' namespace has no `default` context — always explicit. */
  private def our2(
      session: SparkSession,
      parts: Seq[String]
  ): Option[(String, SnapshotCatalog, Array[String])] = {
    val cm = session.sessionState.catalogManager
    if (parts.isEmpty) return None
    try cm.catalog(parts.head) match {
      case sc: SnapshotCatalog => Some((parts.head, sc, parts.tail.toArray))
      case _                   => None
    } catch { case _: CatalogNotFoundException => None }
  }

  /** Expand a view reference to its parsed + recursively rewritten
    * body, aliased back to the view's name (so `v.col` qualifies). */
  private def expand(
      session: SparkSession,
      parser: ParserInterface,
      cat: String,
      sc: SnapshotCatalog,
      ident: Identifier,
      depth: Int
  ): LogicalPlan = {
    val v = sc.loadView(ident)
    if (depth + 1 >= MaxDepth)
      throw new IllegalStateException(
        s"snapshot catalog: view expansion exceeded depth $MaxDepth at " +
          s"$cat.${ident.namespace.mkString(".")}.${ident.name} — cyclic definition?")
    val body = rewrite(
      session, parser, parser.parsePlan(v.query),
      Some((v.currentCatalog, v.currentNamespace)), depth + 1)
    val aliased =
      if (v.columnAliases.nonEmpty && v.columnAliases.length == v.queryColumnNames.length)
        Project(
          v.columnAliases.toSeq.zip(v.queryColumnNames.toSeq).map {
            case (a, q) => Alias(UnresolvedAttribute.quoted(q), a)()
          },
          body)
      else body
    SubqueryAlias(ident.name, aliased)
  }
}

/** CREATE [OR REPLACE] VIEW [IF NOT EXISTS] — analyzes the (already
  * view-expanded) query for the recorded schema, then stores the SQL
  * TEXT through the catalog's ViewCatalog API. */
case class GraftCreateViewCommand(
    catalog: SnapshotCatalog,
    catalogName: String,
    ident: Identifier,
    sql: String,
    query: LogicalPlan,
    columnAliases: Seq[String],
    columnComments: Seq[String],
    properties: Map[String, String],
    allowExisting: Boolean,
    replace: Boolean
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (catalog.viewExists(ident)) {
      if (allowExisting) return Nil
      if (replace) catalog.dropView(ident)
    }
    val analyzed = session.sessionState.executePlan(query).analyzed
    val queryCols = analyzed.schema.fieldNames.toSeq
    require(
      columnAliases.isEmpty || columnAliases.length == queryCols.length,
      s"snapshot catalog: CREATE VIEW names ${columnAliases.length} columns " +
        s"but the query produces ${queryCols.length}")
    val schema =
      if (columnAliases.isEmpty) analyzed.schema
      else StructType(analyzed.schema.fields.zip(columnAliases).map {
        case (f, a) => f.copy(name = a)
      })
    val cm = session.sessionState.catalogManager
    catalog.createView(new ViewInfo(
      ident, sql, catalogName, cm.currentNamespace,
      schema, queryCols.toArray,
      columnAliases.toArray,
      (if (columnComments.isEmpty) Array.fill[String](0)("")
       else columnComments.toArray),
      properties.asJava))
    Nil
  }
}

case class GraftDropViewCommand(
    catalog: SnapshotCatalog,
    ident: Identifier,
    ifExists: Boolean
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (!catalog.dropView(ident) && !ifExists)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    Nil
  }
}

/** ALTER VIEW ... AS — replace the definition, keeping properties. */
case class GraftAlterViewAsCommand(
    catalog: SnapshotCatalog,
    catalogName: String,
    ident: Identifier,
    sql: String,
    query: LogicalPlan
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val old = catalog.loadView(ident) // refuses when absent
    val analyzed = session.sessionState.executePlan(query).analyzed
    catalog.dropView(ident)
    catalog.createView(new ViewInfo(
      ident, sql, catalogName, old.currentNamespace(),
      analyzed.schema, analyzed.schema.fieldNames,
      Array.empty[String], Array.empty[String], old.properties()))
    Nil
  }
}

case class GraftAlterViewPropsCommand(
    catalog: SnapshotCatalog,
    ident: Identifier,
    changes: Seq[ViewChange]
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    catalog.alterView(ident, changes: _*)
    Nil
  }
}

case class GraftRenameViewCommand(
    catalog: SnapshotCatalog,
    from: Identifier,
    to: Identifier
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    catalog.renameView(from, to)
    Nil
  }
}

/** CREATE MATERIALIZED VIEW — materializes the rollup as a catalog
  * table via [[graft.sources.SnapshotLog.createMv]] (the same engine
  * behind CALL create_mv): one full build now, every REFRESH after it
  * folds only the source's change feed. */
case class GraftCreateMvCommand(
    catalog: SnapshotCatalog,
    ident: Identifier,
    srcCatalog: SnapshotCatalog,
    srcIdent: Identifier,
    key: String,
    agg: String,
    kind: String,
    keyExpr: Option[String] = None,
    avgExact: Boolean = false,
    // an EXPRESSION measure's SQL text (round 16) — materialized as a
    // fold column named by `agg`, re-derived on every refresh, matched
    // canonically at serve (SnapshotLog.createMv aggExpr)
    aggExpr: Option[String] = None,
    // 'inner' | 'left' — the join form's type (round 16); ignored for
    // single-table MVs
    joinType: String = "inner",
    // MULTI-EXPRESSION measures (round 18): storedName -> SQL text,
    // parsed from `sum(<expr>) AS mv_sum_<name>` select items — the
    // DDL spelling of SnapshotLog.createMv's aggExprs (round 19:
    // reaches the join forms too, fact-qualifier-stripped)
    aggExprs: Map[String, String] = Map.empty,
    // the JOIN form: one (dim catalog, dim ident, fk, pk) per join,
    // in FROM-clause order — the rollup is `src ⋈ dim_1 ⋈ … ⋈ dim_n`
    // grouped by dim attrs, every dim version pinned at create
    // (SnapshotLog.createJoinMv; round 16 allows a star or snowflake
    // CHAIN — a later fk may live on an earlier dim)
    joinSpec: Seq[(SnapshotCatalog, Identifier, String, String)] = Nil
) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "as_of_version", org.apache.spark.sql.types.IntegerType,
      nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    require(
      !catalog.tableExists(ident) && !catalog.viewExists(ident),
      s"snapshot catalog: '${ident.name}' already exists — one name, " +
        "one meaning (DROP it first)")
    val v =
      if (joinSpec.nonEmpty)
        graft.sources.SnapshotLog.createJoinMv(
          session, srcCatalog.pathOf(srcIdent),
          joinSpec.map { case (sc, id, _, _) => sc.pathOf(id) }.mkString(","),
          joinSpec.map(_._3).mkString(","),
          joinSpec.map(_._4).mkString(","),
          catalog.pathOf(ident), key, agg, kind, avgExact,
          keyExpr = keyExpr, joinType = joinType, aggExpr = aggExpr,
          aggExprs = aggExprs)
      else
        graft.sources.SnapshotLog.createMv(
          session, srcCatalog.pathOf(srcIdent), catalog.pathOf(ident),
          key, agg, kind, keyExpr, avgExact, aggExpr, aggExprs = aggExprs)
    Seq(Row(v))
  }
}

/** REFRESH MATERIALIZED VIEW — folds the source's change feed since
  * the MV's committed high-water mark; O(changed files). */
case class GraftRefreshMvCommand(
    catalog: SnapshotCatalog,
    ident: Identifier
) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "from_version", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "to_version", org.apache.spark.sql.types.IntegerType,
      nullable = false)())
  override def run(session: SparkSession): Seq[Row] = {
    val (f, t) = graft.sources.SnapshotLog.refreshMv(
      session, catalog.pathOf(ident))
    Seq(Row(f, t))
  }
}

/** DROP MATERIALIZED VIEW — refuses on a table that is NOT an MV (the
  * statement must mean what it says); IF EXISTS swallows only
  * absence. */
case class GraftDropMvCommand(
    catalog: SnapshotCatalog,
    ident: Identifier,
    ifExists: Boolean
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (!catalog.tableExists(ident)) {
      if (ifExists) return Nil
      throw new IllegalArgumentException(
        s"snapshot catalog: no materialized view '${ident.name}'")
    }
    val props =
      graft.sources.SnapshotLog.tableProps(session, catalog.pathOf(ident))
    require(
      graft.sources.MvDecl.sourceOf(props).isDefined,
      s"snapshot catalog: '${ident.name}' is a plain table, not a " +
        "materialized view — use DROP TABLE")
    catalog.dropTable(ident)
    Nil
  }
}

/** `EXPLAIN <query>` with the MV-serve section appended (conf-gated,
  * see the parser hook). The base text is exactly what ExplainCommand
  * prints; the extra section reuses [[graft.plans.MvRewrite
  * .explainServe]] — one line per candidate-MV decision. Diagnostics
  * failures degrade to a note, never break EXPLAIN itself. */
case class GraftExplainMvCommand(
    inner: org.apache.spark.sql.execution.command.ExplainCommand
) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = inner.output
  override def run(session: SparkSession): Seq[Row] = {
    val base = inner.run(session)
    val lines =
      try graft.plans.MvRewrite.explainServe(
        session,
        org.apache.spark.sql.GraftPlanBridge.ofRows(session, inner.logicalPlan))
      catch {
        case scala.util.control.NonFatal(e) =>
          Seq(s"(mv-serve diagnosis unavailable: ${e.getMessage})")
      }
    val text = base.headOption.map(_.getString(0)).getOrElse("") +
      "\n== Materialized View Serving ==\n" + lines.mkString("\n") + "\n"
    Seq(Row(text))
  }
}

case class GraftShowViewsCommand(
    catalog: SnapshotCatalog,
    namespace: Array[String],
    pattern: Option[String],
    override val output: Seq[Attribute]
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // SHOW-style glob: '*' is any-string, '|' separates alternatives
    val rx = pattern.map(p =>
      java.util.regex.Pattern.compile(
        p.split('|').map(a =>
          a.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))
          .mkString("|"),
        java.util.regex.Pattern.CASE_INSENSITIVE))
    catalog.listViews(namespace.toIndexedSeq: _*).toSeq
      .filter(id => rx.forall(_.matcher(id.name).matches()))
      .sortBy(_.name)
      .map(id => Row(namespace.mkString("."), id.name, false))
  }
}

case class GraftShowViewPropsCommand(
    catalog: SnapshotCatalog,
    ident: Identifier,
    propertyKey: Option[String],
    override val output: Seq[Attribute]
) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val props = catalog.loadView(ident).properties().asScala
    propertyKey match {
      case Some(k) => Seq(Row(k, props.getOrElse(k, s"View ${ident.name} does not have property: $k")))
      case None    => props.toSeq.sorted.map { case (k, v) => Row(k, v) }
    }
  }
}
