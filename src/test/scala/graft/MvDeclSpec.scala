package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.sources.{MvDecl, SnapshotLog}

/** The MV declaration (sources/MvDecl): every declaration round-trips
  * through its props, the older spellings still read, and the `_props`
  * bytes each MV shape writes through the public constructors are
  * pinned (table paths masked), so moving the props behind one type
  * changes no byte on disk. */
class MvDeclSpec extends SparkTestBase {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300).withWorkers(1),
      prop)
    assert(res.passed, res.status.toString)
  }

  private val ident: Gen[String] = for {
    c <- Gen.alphaLowerChar
    rest <- Gen.listOfN(5, Gen.frequency(4 -> Gen.alphaLowerChar, 1 -> Gen.const('_')))
  } yield (c :: rest).mkString

  private val path: Gen[String] = Gen.listOfN(2, ident).map(_.mkString("/tmp/", "/", ""))

  // SQL-ish text: commas and spaces allowed, never a line break or `=`
  private val exprText: Gen[String] = for {
    f <- Gen.oneOf("to_date", "upper", "abs", "trunc")
    a <- ident
    b <- Gen.oneOf("", ", 'month'", " * 100 - disc")
  } yield s"$f($a$b)"

  private val decls: Gen[MvDecl] = for {
    source <- path
    keys <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, ident))
    measures <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, ident)).map(_.distinct)
    kind <- Gen.oneOf(MvDecl.Kinds)
    version <- Gen.choose(0, 5000)
    keyExpr <- Gen.option(exprText)
    exprs <- Gen.sequence[List[Option[(String, String)]], Option[(String, String)]](
      measures.map(m => Gen.option(exprText.map(m -> _))))
    single <- Gen.oneOf(true, false)
    nJoins <- Gen.choose(0, 3)
    joins <- Gen.listOfN(nJoins, for {
      d <- path
      fk <- ident
      pk <- ident
      pin <- Gen.choose(0, 5000)
      edge <- Gen.oneOf("inner", "left")
    } yield MvDecl.Join(d, fk, pk, pin, edge))
    lgK <- Gen.choose(4, 21)
    flag <- Gen.oneOf(true, false)
  } yield {
    val declared = exprs.flatten
    // the single spelling can only bind the first of one measure
    val singleExpr = single && measures.size == 1 && declared.size == 1
    MvDecl(
      source, keys, measures, kind, version, keyExpr,
      factKey = if (joins.nonEmpty) keyExpr.map(_ => keys.last) else None,
      measureExprs = declared,
      singleExpr = singleExpr,
      joins = joins,
      hllLgK = if (kind == "hll") lgK else 12,
      avgExact = kind == "stats" && flag,
      distinctHash = kind == "distinct" && flag)
  }

  test("parse(d.props) == Some(d) for every well-formed declaration") {
    check(Prop.forAll(decls)(d => MvDecl.parse(d.props).contains(d)))
  }

  private val legacy = Map(
    "mv_source" -> "/w/src", "mv_key" -> "k", "mv_agg" -> "a,b",
    "mv_version" -> "3")

  test("older spellings read: no kind is sum, no mv_hll_lgk is 12, a lone " +
    "mv_agg_expr binds to the first measure, mv_join_type=left fans out " +
    "to every edge") {
    val plain = MvDecl.parse(legacy).get
    assert(plain.kind == "sum" && plain.version == 3 && plain.joins.isEmpty)
    assert(plain.keys == Seq("k") && plain.measures == Seq("a", "b"))
    assert(MvDecl.parse(legacy + ("mv_kind" -> "hll")).get.hllLgK == 12)
    val one = MvDecl.parse(legacy + ("mv_agg_expr" -> "x * 2")).get
    assert(one.measureExprs == Seq("a" -> "x * 2") && one.singleExpr)
    assert(one.props("mv_agg_expr") == "x * 2" && !one.props.contains("mv_agg_expr_a"))
    // the per-measure spelling wins over a stray single one
    val per = MvDecl.parse(legacy ++ Map("mv_agg_expr" -> "x", "mv_agg_expr_b" -> "y")).get
    assert(per.measureExprs == Seq("b" -> "y") && !per.singleExpr)
    val join = legacy ++ Map(
      "mv_join_dim" -> "/w/d1,/w/d2", "mv_join_fk" -> "f1,f2",
      "mv_join_pk" -> "p1,p2", "mv_dim_version" -> "4,7")
    val left = MvDecl.parse(join + ("mv_join_type" -> "left")).get
    assert(left.joins.map(_.edge) == Seq("left", "left"))
    assert(left.joins.map(_.pin) == Seq(4, 7) && left.joins.map(_.how) ==
      Seq("left_outer", "left_outer"))
    assert(MvDecl.parse(join).get.joins.map(_.edge) == Seq("inner", "inner"))
    val mixed = MvDecl.parse(join + ("mv_join_types" -> "inner,left")).get
    assert(mixed.mixedJoins && mixed.joins.map(_.edge) == Seq("inner", "left"))
    assert(mixed.dimIndex("file:/w/d2/") == 1 && mixed.dimIndex("/w/d3") == -1)
  }

  test("malformed declarations parse to None") {
    val join = legacy ++ Map(
      "mv_join_dim" -> "/w/d1,/w/d2", "mv_join_fk" -> "f1,f2",
      "mv_join_pk" -> "p1,p2", "mv_dim_version" -> "4,7")
    assert(MvDecl.parse(Map("mv_source" -> "/nowhere")).isEmpty)
    assert(MvDecl.parse(legacy - "mv_source").isEmpty)
    assert(MvDecl.parse(legacy + ("mv_key" -> " , ")).isEmpty)
    assert(MvDecl.parse(legacy + ("mv_version" -> "v3")).isEmpty)
    assert(MvDecl.parse(legacy + ("mv_kind" -> "median")).isEmpty)
    assert(MvDecl.parse(join + ("mv_join_pk" -> "p1")).isEmpty)
    assert(MvDecl.parse(join + ("mv_dim_version" -> "4,x")).isEmpty)
    assert(MvDecl.parse(join + ("mv_join_types" -> "inner")).isEmpty)
    assert(MvDecl.parse(join + ("mv_join_types" -> "inner,outer")).isEmpty)
    assert(MvDecl.sourceOf(Map("mv_source" -> "/nowhere")).contains("/nowhere"))
  }

  test("mv_refs read and write through MvDecl") {
    val root = Files.createTempDirectory("graft_mvrefs").toString
    val src = s"$root/src"
    SnapshotLog.setTableProps(spark, src, Map("sorted_by" -> "k"))
    MvDecl.addRef(spark, src, s"$root/m1")
    MvDecl.addRef(spark, src, s"$root/m2")
    MvDecl.addRef(spark, src, s"$root/m1")
    val props = SnapshotLog.tableProps(spark, src)
    assert(MvDecl.refs(props) == Seq(s"$root/m1", s"$root/m2"))
    assert(props("sorted_by") == "k")
    MvDecl.removeRef(spark, src, s"$root/m1")
    assert(MvDecl.refs(SnapshotLog.tableProps(spark, src)) == Seq(s"$root/m2"))
    MvDecl.removeRef(spark, src, s"$root/m2")
    assert(SnapshotLog.tableProps(spark, src) == Map("sorted_by" -> "k"))
  }

  // ---- `_props` bytes written through the public constructors ----

  private def propsText(root: String, table: String): String =
    new String(Files.readAllBytes(Paths.get(s"$table/_log/_props")), UTF_8)
      .replace(root, "<root>")

  private def table(path: String, df: DataFrame): String = {
    SnapshotLog.commit(spark, path, df)
    path
  }

  /** Builds every pinned shape under one fresh root and returns
    * (shape, MV props text, source props text) per shape. */
  private def shapes(): Seq[(String, String, String)] = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_mvdecl").toString
    def fresh(n: String) = s"$root/$n"
    val ts = java.sql.Timestamp.valueOf("2024-03-05 10:00:00")
    def src(n: String) = table(fresh(n), Seq(
      (1L, 10L, "a", 2L, ts), (2L, 20L, "b", 3L, ts)).toDF("k", "v", "s", "g", "ts"))
    def dim(n: String, pk: String, attr: String) =
      table(fresh(n), Seq((1L, "x"), (2L, "y")).toDF(pk, attr))
    def fact(n: String) = table(fresh(n), Seq(
      (1L, 1L, 10L, ts), (2L, 2L, 20L, ts)).toDF("fk", "fk2", "v", "ts"))
    val out = Seq.newBuilder[(String, String, String)]
    def mv(shape: String, source: String)(create: String => Int): Unit = {
      val m = fresh(s"mv_$shape")
      create(m)
      out += ((shape, propsText(root, m), propsText(root, source)))
    }
    val s1 = src("s1")
    mv("sum", s1)(SnapshotLog.createMv(spark, s1, _, "k", "v"))
    mv("minmax", s1)(SnapshotLog.createMv(spark, s1, _, "k", "v", "minmax"))
    val s2 = src("s2")
    mv("composite", s2)(SnapshotLog.createMv(spark, s2, _, "k,g", "v"))
    val s3 = src("s3")
    mv("derived", s3)(
      SnapshotLog.createMv(spark, s3, _, "day", "v", keyExpr = Some("to_date(ts)")))
    val s4 = src("s4")
    mv("stats_avg", s4)(
      SnapshotLog.createMv(spark, s4, _, "k", "v", "stats", avgExact = true))
    val s5 = src("s5")
    mv("distinct_hash", s5)(
      SnapshotLog.createMv(spark, s5, _, "k", "s", "distinct", hashDistinct = true))
    val s6 = src("s6")
    mv("hll14", s6)(SnapshotLog.createMv(spark, s6, _, "k", "v", "hll", hllLgK = 14))
    val s7 = src("s7")
    mv("one_expr", s7)(
      SnapshotLog.createMv(spark, s7, _, "k", "rev", aggExpr = Some("v * (100 - g)")))
    mv("multi_expr", s7)(
      SnapshotLog.createMv(spark, s7, _, "k", "rev,fee,v",
        aggExprs = Map("rev" -> "v * (100 - g)", "fee" -> "g + 1")))
    val f1 = fact("f1")
    val d1 = dim("d1", "pk", "seg")
    mv("inner", f1)(SnapshotLog.createJoinMv(spark, f1, d1, "fk", "pk", _, "seg", "v"))
    mv("left", f1)(
      SnapshotLog.createJoinMv(spark, f1, d1, "fk", "pk", _, "seg", "v", joinType = "left"))
    val f2 = fact("f2")
    val d2 = dim("d2", "pk2", "reg")
    mv("mixed_2dim", f2)(
      SnapshotLog.createJoinMv(spark, f2, s"$d1,$d2", "fk,fk2", "pk,pk2", _,
        "seg,reg", "v", joinType = "inner,left"))
    val f3 = fact("f3")
    mv("mixed_grain", f3)(
      SnapshotLog.createJoinMv(spark, f3, d1, "fk", "pk", _, "seg,day", "v",
        kind = "stats", avgExact = true, keyExpr = Some("to_date(ts)")))
    out.result()
  }

  private val pinned: Map[String, (String, String)] = Map(
    "sum" -> (
      s"""|mv_agg=v
         |mv_key=k
         |mv_kind=sum
         |mv_source=<root>/s1
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_sum
         |""".stripMargin),
    "minmax" -> (
      s"""|mv_agg=v
         |mv_key=k
         |mv_kind=minmax
         |mv_source=<root>/s1
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_sum,<root>/mv_minmax
         |""".stripMargin),
    "composite" -> (
      s"""|mv_agg=v
         |mv_key=k,g
         |mv_kind=sum
         |mv_source=<root>/s2
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_composite
         |""".stripMargin),
    "derived" -> (
      s"""|mv_agg=v
         |mv_key=day
         |mv_key_expr=to_date(ts)
         |mv_kind=sum
         |mv_source=<root>/s3
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_derived
         |""".stripMargin),
    "stats_avg" -> (
      s"""|mv_agg=v
         |mv_avg_exact=true
         |mv_key=k
         |mv_kind=stats
         |mv_source=<root>/s4
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_stats_avg
         |""".stripMargin),
    "distinct_hash" -> (
      s"""|mv_agg=s
         |mv_distinct_hash=true
         |mv_key=k
         |mv_kind=distinct
         |mv_source=<root>/s5
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_distinct_hash
         |""".stripMargin),
    "hll14" -> (
      s"""|mv_agg=v
         |mv_hll_lgk=14
         |mv_key=k
         |mv_kind=hll
         |mv_source=<root>/s6
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_hll14
         |""".stripMargin),
    "one_expr" -> (
      s"""|mv_agg=rev
         |mv_agg_expr=v * (100 - g)
         |mv_key=k
         |mv_kind=sum
         |mv_source=<root>/s7
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_one_expr
         |""".stripMargin),
    "multi_expr" -> (
      s"""|mv_agg=rev,fee,v
         |mv_agg_expr_fee=g + 1
         |mv_agg_expr_rev=v * (100 - g)
         |mv_key=k
         |mv_kind=sum
         |mv_source=<root>/s7
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_one_expr,<root>/mv_multi_expr
         |""".stripMargin),
    "inner" -> (
      s"""|mv_agg=v
         |mv_dim_version=1
         |mv_join_dim=<root>/d1
         |mv_join_fk=fk
         |mv_join_pk=pk
         |mv_key=seg
         |mv_kind=sum
         |mv_source=<root>/f1
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_inner
         |""".stripMargin),
    "left" -> (
      s"""|mv_agg=v
         |mv_dim_version=1
         |mv_join_dim=<root>/d1
         |mv_join_fk=fk
         |mv_join_pk=pk
         |mv_join_type=left
         |mv_key=seg
         |mv_kind=sum
         |mv_source=<root>/f1
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_inner,<root>/mv_left
         |""".stripMargin),
    "mixed_2dim" -> (
      s"""|mv_agg=v
         |mv_dim_version=1,1
         |mv_join_dim=<root>/d1,<root>/d2
         |mv_join_fk=fk,fk2
         |mv_join_pk=pk,pk2
         |mv_join_types=inner,left
         |mv_key=seg,reg
         |mv_kind=sum
         |mv_source=<root>/f2
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_mixed_2dim
         |""".stripMargin),
    "mixed_grain" -> (
      s"""|mv_agg=v
         |mv_avg_exact=true
         |mv_dim_version=1
         |mv_fact_key=day
         |mv_join_dim=<root>/d1
         |mv_join_fk=fk
         |mv_join_pk=pk
         |mv_key=seg,day
         |mv_key_expr=to_date(ts)
         |mv_kind=stats
         |mv_source=<root>/f3
         |mv_version=1
         |""".stripMargin,
      s"""|mv_refs=<root>/mv_mixed_grain
         |""".stripMargin))

  test("the _props bytes of every MV shape built through createMv and " +
    "createJoinMv, and of its source's mv_refs, are pinned") {
    val got = shapes()
    assert(got.map(_._1).toSet == pinned.keySet)
    got.foreach { case (shape, m, s) =>
      assert((m, s) == pinned(shape), s"shape $shape:\n$m---\n$s")
    }
  }
}
