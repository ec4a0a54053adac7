package graft

import org.scalatest.funsuite.AnyFunSuite

/** Inventory consistency: module maps must not collide (Map ++ would
  * silently drop queries) and every oracle must have a query. Iterates
  * [[SparkEntry.modules]] itself, so a module is registered in one
  * place. */
class InventorySpec extends AnyFunSuite {

  test("no duplicate query keys across modules") {
    val all = SparkEntry.modules.flatMap { case (m, qs, _) => qs.keys.map(_ -> m) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicate keys: $dups")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracle key has a matching query; oracle SQL is non-empty") {
    val oracleKeys = SparkEntry.modules.flatMap(_._3.keys)
    assert(oracleKeys.size == oracleKeys.distinct.size, "an oracle key is declared twice")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"empty oracle for $k")
    }
  }

  test("declared inventory covers every SURVEY §2 area") {
    val keys = SparkEntry.queries.keySet
    val areas = Map(
      "scan" -> "scan_parquet", "source" -> "source_csv",
      "sink" -> "sink_partitioned", "project" -> "project_rename_cast",
      "filter" -> "filter_pred", "join" -> "join_asof",
      "agg" -> "agg_hash", "window" -> "win_running",
      "setop" -> "set_intersect", "scalar" -> "fn_date",
      "udf" -> "udf_scalar", "udaf" -> "udaf_typed",
      "udtf" -> "udtf_generator", "text" -> "text_tokens_tf",
      "dedup" -> "dedup_minhash_near", "sim" -> "sim_topk_nn",
      "multimodal" -> "mm_decode_stub", "streaming" -> "stream_session"
    )
    areas.foreach { case (area, key) =>
      assert(keys.contains(key), s"area $area missing key $key")
    }
  }
}
