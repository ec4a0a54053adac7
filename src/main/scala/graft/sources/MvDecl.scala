package graft.sources

import org.apache.spark.sql.SparkSession

/** What a managed materialized view declares: one typed value, parsed
  * once from the `mv_*` lines of the MV's `_log/_props` and rendered
  * back to exactly those lines.
  *
  * The props grammar (one `key=value` line each; `setTableProps`
  * writes the keys sorted):
  *   - `mv_source` the source (fact) table path; `mv_key` and `mv_agg`
  *     the comma-joined key and measure lists; `mv_kind` one of
  *     [[MvDecl.Kinds]] (`sum` when absent);
  *   - `mv_version` the source version the MV was built at, restamped
  *     by every refresh. The committed `mvv=` header rider is the
  *     authority; this copy backs MVs built before the rider existed;
  *   - `mv_key_expr` a derived key expression, and for a mixed-grain
  *     join MV `mv_fact_key`, the key member it is stored under;
  *   - expression measures as `mv_agg_expr_<measure>` per measure, or
  *     the older single `mv_agg_expr`, which binds to the first
  *     measure;
  *   - join MVs: the aligned comma lists `mv_join_dim`, `mv_join_fk`,
  *     `mv_join_pk` and `mv_dim_version` (the create pins; a dim
  *     refresh records newer pins as `mvdv=` header riders), plus
  *     `mv_join_type=left` when every edge is left and `mv_join_types`
  *     (one type per edge) when the edges are mixed;
  *   - `mv_hll_lgk` (kind `hll` only; 12 when absent), and
  *     `mv_avg_exact=true` / `mv_distinct_hash=true` when declared.
  *
  * The SOURCE table's props carry `mv_refs`, the comma-joined paths of
  * the MVs that maintain it ([[MvDecl.addRef]] / [[MvDecl.removeRef]]).
  * No other module reads or writes these keys.
  */
final case class MvDecl(
    source: String,
    keys: Seq[String],
    measures: Seq[String],
    kind: String,
    version: Int,
    keyExpr: Option[String] = None,
    factKey: Option[String] = None,
    // (stored measure, SQL expression), in measure-list order
    measureExprs: Seq[(String, String)] = Nil,
    // true when the one expression is spelled as the single `mv_agg_expr`
    singleExpr: Boolean = false,
    joins: Seq[MvDecl.Join] = Nil,
    hllLgK: Int = 12,
    avgExact: Boolean = false,
    distinctHash: Boolean = false
) {
  import MvDecl._

  /** The stored column the key expression derives: the whole key of a
    * plain derived MV, or the fact-key member of a mixed-grain join MV. */
  def derivedKey: Option[String] = keyExpr.map(_ => factKey.getOrElse(keys.head))

  /** The key members a join MV takes from its dims. */
  def dimKeys: Seq[String] = factKey.fold(keys)(f => keys.filterNot(_ == f))

  /** The edge types are not all the same. */
  def mixedJoins: Boolean = joins.map(_.edge).distinct.size > 1

  /** The index of the join whose dim is `path`, or -1. */
  def dimIndex(path: String): Int = joins.indexWhere(j => samePath(j.dim, path))

  /** Relative standard error of the stored HLL sketches: the published
    * 1.04 / sqrt(2^lgK) bound the serve gate compares against a
    * query's requested relativeSD. */
  def hllRse: Double = 1.04 / math.sqrt(math.pow(2.0, hllLgK.toDouble))

  /** The declaration as props lines, in the spellings listed on the
    * class. */
  def props: Map[String, String] = {
    def list(xs: Seq[String]) = xs.mkString(",")
    Map(
      Source -> source,
      Key -> list(keys),
      Agg -> list(measures),
      KindKey -> kind,
      Version -> version.toString) ++
      keyExpr.map(KeyExpr -> _) ++
      factKey.map(FactKey -> _) ++
      measureExprs.map { case (m, e) =>
        (if (singleExpr) AggExpr else AggExprOf + m) -> e
      } ++
      (if (joins.isEmpty) Nil
       else Seq(
         JoinDim -> list(joins.map(_.dim)),
         JoinFk -> list(joins.map(_.fk)),
         JoinPk -> list(joins.map(_.pk)),
         DimVersion -> list(joins.map(_.pin.toString)))) ++
      (if (joins.nonEmpty && joins.forall(_.left)) Some(JoinType -> "left")
       else None) ++
      (if (mixedJoins) Some(JoinTypes -> list(joins.map(_.edge))) else None) ++
      (if (kind == "hll") Some(HllLgK -> hllLgK.toString) else None) ++
      (if (avgExact) Some(AvgExact -> "true") else None) ++
      (if (distinctHash) Some(DistinctHash -> "true") else None)
  }
}

object MvDecl {

  /** One join of a join MV, in join order: `fk` resolves against the
    * fact or an earlier dim, `pk` in `dim`; `pin` is the dim version
    * at create; `edge` is "inner" or "left". */
  final case class Join(dim: String, fk: String, pk: String, pin: Int, edge: String) {
    def left: Boolean = edge == "left"

    /** The Spark join type of this edge. */
    def how: String = if (left) "left_outer" else "inner"
  }

  val Kinds: Seq[String] = Seq("sum", "minmax", "stats", "distinct", "hll")

  private val Source = "mv_source"
  private val Key = "mv_key"
  private val Agg = "mv_agg"
  private val KindKey = "mv_kind"
  private val Version = "mv_version"
  private val KeyExpr = "mv_key_expr"
  private val FactKey = "mv_fact_key"
  private val AggExpr = "mv_agg_expr"
  private val AggExprOf = "mv_agg_expr_"
  private val JoinDim = "mv_join_dim"
  private val JoinFk = "mv_join_fk"
  private val JoinPk = "mv_join_pk"
  private val DimVersion = "mv_dim_version"
  private val JoinType = "mv_join_type"
  private val JoinTypes = "mv_join_types"
  private val HllLgK = "mv_hll_lgk"
  private val AvgExact = "mv_avg_exact"
  private val DistinctHash = "mv_distinct_hash"
  private val Refs = "mv_refs"

  private def split(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The declaration in `props`, or None when they declare no MV or a
    * malformed one: no source, key or measure list, an unknown kind, a
    * version or pin that is not a number, join lists of unequal length,
    * or an edge type other than inner or left. */
  def parse(props: Map[String, String]): Option[MvDecl] = {
    def int(s: String) = s.trim.toIntOption
    for {
      source <- props.get(Source)
      keys <- props.get(Key).map(split) if keys.nonEmpty
      measures <- props.get(Agg).map(split) if measures.nonEmpty
      kind = props.getOrElse(KindKey, "sum") if Kinds.contains(kind)
      version <- props.get(Version).flatMap(int)
      joins <- parseJoins(props)
    } yield {
      val perMeasure = measures.flatMap(m => props.get(AggExprOf + m).map(m -> _))
      val single = perMeasure.isEmpty && props.contains(AggExpr)
      MvDecl(
        source, keys, measures, kind, version,
        keyExpr = props.get(KeyExpr),
        factKey = props.get(FactKey),
        measureExprs =
          if (single) Seq(measures.head -> props(AggExpr)) else perMeasure,
        singleExpr = single,
        joins = joins,
        hllLgK = props.get(HllLgK).flatMap(int).getOrElse(12),
        avgExact = props.get(AvgExact).contains("true"),
        distinctHash = props.get(DistinctHash).contains("true"))
    }
  }

  private def parseJoins(props: Map[String, String]): Option[Seq[Join]] =
    props.get(JoinDim) match {
      case None => Some(Nil)
      case Some(d) =>
        val dims = split(d)
        val fks = split(props.getOrElse(JoinFk, ""))
        val pks = split(props.getOrElse(JoinPk, ""))
        val pins = split(props.getOrElse(DimVersion, "")).map(_.toIntOption)
        val edges = props.get(JoinTypes).map(split).getOrElse(
          Seq.fill(dims.size)(
            if (props.get(JoinType).contains("left")) "left" else "inner"))
        val n = dims.size
        if (n == 0 || Seq(fks, pks, pins, edges).exists(_.size != n) ||
          pins.exists(_.isEmpty) ||
          !edges.forall(t => t == "inner" || t == "left")) None
        else Some(dims.indices.map(i =>
          Join(dims(i), fks(i), pks(i), pins(i).get, edges(i))))
    }

  /** The source path `props` declare, even when the rest of the
    * declaration does not parse — what dropping a broken MV needs. */
  def sourceOf(props: Map[String, String]): Option[String] = props.get(Source)

  /** The MVs a source's props register as maintaining it. */
  def refs(props: Map[String, String]): Seq[String] =
    props.get(Refs).toSeq.flatMap(split)

  /** Append `mv` to `source`'s `mv_refs` (idempotent). The
    * read-modify-write shares setTableProps' whole-file last-wins
    * posture, so a concurrent ALTER on the source can race it. That is
    * safe because the refs are advisory: the serve rule re-verifies
    * every ref against the MV's own declaration, so a lost pointer
    * costs a missed optimization, never a wrong answer, and a stale
    * one is skipped. */
  def addRef(spark: SparkSession, source: String, mv: String): Unit = {
    val sp = SnapshotLog.tableProps(spark, source)
    val rs = refs(sp)
    if (!rs.contains(mv))
      SnapshotLog.setTableProps(spark, source, sp + (Refs -> (rs :+ mv).mkString(",")))
  }

  /** Remove `mv` from `source`'s `mv_refs`; best-effort (the MV's own
    * props are the authority). */
  def removeRef(spark: SparkSession, source: String, mv: String): Unit =
    try {
      val sp = SnapshotLog.tableProps(spark, source)
      if (sp.contains(Refs)) {
        val left = refs(sp).filter(_ != mv)
        SnapshotLog.setTableProps(
          spark, source,
          if (left.isEmpty) sp - Refs else sp + (Refs -> left.mkString(",")))
      }
    } catch { case _: Exception => () }

  /** A table path without its `file:` scheme and trailing slashes. */
  def normPath(p: String): String = p.stripPrefix("file:").replaceAll("/+$", "")

  /** The two paths name the same table. */
  def samePath(a: String, b: String): Boolean = normPath(a) == normPath(b)
}
