package graft

import graft.queries.{Registry, Tag}
import org.apache.spark.sql.functions._

/** Semantics the DuckDB oracle can't check: sketch accuracy, entry
  * smoke, and query-surface invariants. */
class QuerySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("entry flagship returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracled query name exists in queries") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("every registered query has a non-empty oracle twin") {
    val empty = Registry.all.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(empty.isEmpty, s"queries without an oracle: $empty")
  }

  test("tag-derived sets hold today's exact names") {
    assert(Bench.IoFamily === Set("q32_ingest_roundtrip", "q35_tombstone_roundtrip",
      "q38_jdbc_roundtrip", "q44_price_roundtrip", "q94_chain_namespaces"))
    assert(Bench.LangidFamily === Map(
      "q123_langid_serve" -> "md5", "q128_trained_lang_composition" -> "md5"))
    assert(Bench.DrainFamily === Set("q124_crawl_drain", "q126_raw_crawl_drain",
      "q129_embedding_drain", "q130_media_drain", "q135_robots_drain"))
    assert(Registry.tagged(Tag.QuadraticOracle) === Set("q33_near_dup_bucketed",
      "q47_embedding_near_dup", "q57_dup_clusters", "q74_incremental_dedup",
      "q78_canonical_selection", "q89_leakage_safe_split",
      "q122_incremental_embedding_dedup"))
  }

  test("approx_count_distinct within 5% of exact (q30 contract)") {
    // q30 projects the tolerance check itself; the booleans must hold
    // and the exact counts must equal an independent computation
    val rows = SparkEntry.queries("q30_approx_distinct")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getBoolean(2), s"${r.getString(0)} parts out of tolerance")
      assert(r.getBoolean(4), s"${r.getString(0)} orders out of tolerance")
    }
    val exact = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"), countDistinct(col("l_orderkey")).as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (p, o) = exact(r.getString(0))
      assert(r.getLong(1) === p && r.getLong(3) === o, r.getString(0))
    }
  }

  test("all queries are runnable at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, name)
    }
  }
}
