package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}

/** The invertible fold of a `sum` or `stats` rollup, defined once: the
  * stored rollup at source version `w`, folded with the signed per-group
  * rollup of the change feed `(w, v]`, is the rollup at `v`. REFRESH
  * commits the fold ([[SnapshotLog.refreshMv]]); the serve rule reads it
  * in place of a stale MV (`graft.plans.MvRollupRewriteRule`).
  *
  * Per group, counts add (`mv_n`, `mv_nn`) and every sum adds, inserts
  * as +, deletes as −; a group whose `mv_n` reaches 0 is gone. A sum is
  * SQL NULL exactly when none of the group's values of the measure is
  * non-NULL, so the feed also carries a signed non-NULL count `d_nn`
  * per measure:
  *   - an MV that stores its own non-NULL count (`stats` with
  *     avgExact) decides it outright: NULL iff `mv_nn + d_nn = 0`;
  *   - a NULL stored partial had no non-NULL value at `w`, so NULL iff
  *     `d_nn = 0`;
  *   - a non-NULL stored partial stays non-NULL while `d_nn ≥ 0`, and
  *     also when the folded sum is not 0 (a sum of no values is 0);
  *   - a non-NULL partial whose feed removes non-NULL values net and
  *     whose folded sum is exactly 0 cannot be told from an emptied
  *     one. [[fold]] flags such a group in [[Undecided]]; REFRESH
  *     recomputes it from the source, the serve rule bails.
  */
object MvFold {

  /** The column [[fold]] adds: true where a group's NULL-ness is not
    * decided by the fold. */
  val Undecided = "__graft_undecided"

  /** The kinds whose partials fold a delete exactly. */
  def invertible(kind: String): Boolean = kind == "sum" || kind == "stats"

  /** The stored column of measure `m` (bare for a single measure). */
  def stored(d: MvDecl, base: String, m: String): String =
    if (d.measures.size == 1) base else s"${base}_$m"

  /** The signed per-group rollup of a derived change feed (rows tagged
    * `change_type` insert or delete): `d_sum` (and `d_sumsq` for
    * `stats`) and `d_nn` per measure, `d_n` per group. */
  def feed(d: MvDecl, changes: DataFrame): DataFrame = {
    val sign = when(col("change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val aggs = d.measures.flatMap { m =>
      Seq(sum(col(m) * sign).as(stored(d, "d_sum", m))) ++
        (if (d.kind == "stats") Seq(sum(col(m) * col(m) * sign).as(stored(d, "d_sumsq", m)))
         else Nil) :+
        sum(when(col(m).isNotNull, sign).otherwise(lit(0L))).as(stored(d, "d_nn", m))
    } :+ sum(sign).as("d_n")
    changes.groupBy(d.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** True when a [[feed]] removes non-NULL values of a measure the MV
    * keeps no non-NULL count for — the only way a group can land in
    * [[Undecided]]. `negativeNn(c)` says whether some feed row has a
    * negative `d_nn` column `c`. */
  def mayUndecide(d: MvDecl, mvColumns: Set[String], negativeNn: String => Boolean): Boolean =
    d.measures.exists(m =>
      !mvColumns.contains(stored(d, "mv_nn", m)) && negativeNn(stored(d, "d_nn", m)))

  /** `mv` (the stored rollup at `w`) folded with `delta` (a [[feed]] of
    * `(w, v]`): the stored columns in `mv`'s order and types, groups
    * with `mv_n > 0`, plus the [[Undecided]] flag. Keys match
    * null-safely: a NULL key is one group. */
  def fold(d: MvDecl, mv: DataFrame, delta: DataFrame): DataFrame = {
    val keys = d.keys
    val joined = mv.join(delta, keys.map(k => mv(k) <=> delta(k)).reduce(_ && _), "full_outer")
    val mvCols = mv.columns.toSet
    def plus(a: Column, b: Column): Column = coalesce(a, lit(0L)) + coalesce(b, lit(0L))
    // (stored column -> folded value) for every measure column, and the
    // per-measure undecided conditions
    val perMeasure = d.measures.map { m =>
      val s = mv(stored(d, "mv_sum", m))
      val dnn = coalesce(delta(stored(d, "d_nn", m)), lit(0L))
      val folded = plus(s, delta(stored(d, "d_sum", m)))
      val nnCol = stored(d, "mv_nn", m)
      val (isNull, undecided) =
        if (mvCols.contains(nnCol)) (plus(mv(nnCol), dnn) === 0, lit(false))
        else (s.isNull && dnn === 0, s.isNotNull && dnn < 0 && folded === 0)
      def nullable(c: Column) = when(isNull, lit(null)).otherwise(c)
      val cols = Seq(stored(d, "mv_sum", m) -> nullable(folded)) ++
        (if (d.kind == "stats")
           Seq(stored(d, "mv_sumsq", m) ->
             nullable(plus(mv(stored(d, "mv_sumsq", m)), delta(stored(d, "d_sumsq", m)))))
         else Nil) ++
        (if (mvCols.contains(nnCol)) Seq(nnCol -> plus(mv(nnCol), dnn)) else Nil)
      (cols, undecided)
    }
    val byName: Map[String, Column] =
      keys.map(k => k -> coalesce(mv(k), delta(k))).toMap ++
        perMeasure.flatMap(_._1) + ("mv_n" -> plus(mv("mv_n"), delta("d_n")))
    val out = mv.schema.fields.toSeq.map(f => byName(f.name).cast(f.dataType).as(f.name)) :+
      perMeasure.map(_._2).reduce(_ || _).as(Undecided)
    joined.select(out: _*).filter(col("mv_n") > 0)
  }
}
