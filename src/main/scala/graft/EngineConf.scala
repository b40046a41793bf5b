package graft

import org.apache.spark.sql.SparkSession

/** The engine-interaction configuration shared by EVERY entrypoint
  * (Verify, Bench, Sf1Bench, QueryProfile, PhaseProbe) and the test
  * session (`SparkSpec`) — one definition site so the verified path, the
  * tested path and the timed path run the same engine
  * (round-15 advice: Verify was missing the codegen fallback the bench
  * ran with, so verification exercised a different execution mode than
  * the numbers it vouched for).
  *
  * - `hugeMethodLimit=8000`: fall back from whole-stage codegen when the
  *   fused method would exceed ~8 KB of bytecode — HotSpot never
  *   JIT-compiles methods past its HugeMethodLimit, so a fused
  *   staged-recurrence plan (q425: 32 stacked projections) would run in
  *   the BYTECODE INTERPRETER (measured 221 core-seconds at sf0.1,
  *   128 with the fallback). A JVM-interaction fix, identical at any
  *   scale factor or cluster size.
  * - `codegen.cache.maxEntries=16384` (default 100): a 442-query
  *   analytical session generates thousands of codegen classes; with the
  *   default cache every query's classes are evicted long before it
  *   re-runs and each run pays full janino recompilation (measured:
  *   q425 20.5 → 15.3 s, q437 1.85 → 1.09 s once its ~25 classes
  *   survive between runs). Sized to the workload's class count;
  *   scale-factor-independent.
  * - UTC session time zone: the TIMESTAMP_NTZ → timestamp cast in
  *   Tables.normalizeEventTs is session-TZ-dependent; unpinned sessions
  *   on a non-UTC host would bucket day-granularity windows differently.
  * - nanosAsLong: older testdata generations carried TIMESTAMP(NANOS)
  *   events (harmless for µs-typed parquet). Set here once, never per
  *   load: `Tables.load` relies on it and keys its schema memo on it.
  */
object EngineConf {
  def common(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.hugeMethodLimit", "8000")
    .config("spark.sql.codegen.cache.maxEntries", "16384")
    .config("spark.ui.enabled", "false")
}
