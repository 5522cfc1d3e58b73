package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate-checked query: a Spark plan plus (optionally) the equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet tables.
  *
  * Conventions that keep the driver's hash-compare stable across engines:
  *   - every output column is explicitly aliased, identically in both;
  *   - every result is fully ordered by all (or uniquely-identifying)
  *     output columns in both;
  *   - double aggregates are rounded to >= the data's intrinsic decimal
  *     precision (prices/discounts have <= 4 decimals), so cross-engine
  *     float-summation-order noise (~1e-9) can never flip the rounding;
  *   - averages/ratios are derived from rounded sums, not avg(), so both
  *     engines divide identical doubles.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)
}

/** Session-lifetime checkpoint-leak guard (r8 advice): queries that
  * localCheckpoint an intermediate sliver and return a plan that reads
  * it lazily cannot unpersist it themselves — the blocks would vanish
  * before the consumer runs. They register the pinned frame here
  * instead, and every CONSUMER (Verify after each query's write, Bench
  * after each timed repeat, SparkSpec between suites) calls [[drain]]
  * once its action has materialized — so checkpoint storage lives
  * exactly one query run, not the rest of the session.
  *
  * Contract: after drain() the DataFrames that embedded a tracked
  * checkpoint must not be re-executed (localCheckpoint truncates
  * lineage; the blocks are gone). Verify runs each query once and
  * Bench re-builds the plan fresh per repeat, so both are safe by
  * construction. Trainers that fully consume their checkpoints inside
  * the query body keep unpersisting inline — this registry is only for
  * slivers the RETURNED plan still references.
  */
private[graft] object Pinned {
  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** Register an (eagerly) checkpointed frame for release at the next
    * consumer drain; returns it unchanged for inline use.
    */
  def track(df: DataFrame): DataFrame = { reg.add(df); df }

  /** Corpus-FAT frames (gram-set arrays ≈ 3× text bytes, text-bearing
    * stage frames, chunk/embed frames) — the r14 fault-tolerance policy
    * (VERDICT #1 / guide §5), DEPLOYMENT-SHAPED:
    *
    *   - On a CLUSTER (non-local master): persist(MEMORY_AND_DISK) with
    *     lineage RETAINED + eager count. localCheckpoint blocks are
    *     executor-local and unreplicated with lineage truncated — one
    *     lost executor kills the query with no recompute path, and
    *     corpus-scale block residency pressures storage memory. The
    *     persisted form recomputes lost partitions from lineage and
    *     evicts to disk under pressure; consumers read the cache through
    *     CacheManager plan substitution (same one-computation
    *     guarantee).
    *   - In LOCAL mode: localCheckpoint(true). The fault-tolerance
    *     argument is VACUOUS there — driver and executor are one JVM,
    *     so "executor loss" is application death either way — and the
    *     persisted form pays real CPU for nothing: the columnar
    *     encode/decode of text/array columns measured +30-60% on the
    *     pretrain arms at sf0.1 (compact 8.1→12.3 s, e2e 5.1→8.2 s,
    *     OPTIMIZATION_r14.md §3). Same plan shape either way (one
    *     materialization, N cache/block reads).
    *
    * `spark.graft.fatMaterialize` ∈ auto (default) / persist / ckpt
    * overrides the choice for testing — FatFrameSpec pins result
    * equality across both forms. Eagerness is inside the timed query
    * run in both modes; release stays the consumer's [[drain]]
    * (unpersist handles both). Slim id/digest/verdict SLIVERS keep
    * localCheckpoint unconditionally: trivial residency, and plan
    * truncation still guards the composites' planning time.
    */
  def fat(df: DataFrame): DataFrame = {
    val mode = try df.sparkSession.conf.get("spark.graft.fatMaterialize", "auto")
      catch { case _: Throwable => "auto" }
    val persist = mode match {
      case "persist" => true
      case "ckpt" => false
      case _ => !df.sparkSession.sparkContext.isLocal
    }
    if (persist) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      track(df)
    } else track(df.localCheckpoint(true))
  }

  /** Unpersist every tracked frame. Safe to call repeatedly. */
  def drain(): Unit = {
    var d = reg.poll()
    while (d != null) {
      try {
        d.unpersist(blocking = false)
        // a local checkpoint is not in the cache manager: its blocks are
        // the persisted RDD under the frame's LogicalRDD
        d.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
          case _ =>
        }
      } catch { case _: Throwable => }
      d = reg.poll()
    }
  }
}

/** Bounded pool for CONCURRENT eager materializations (r14, VERDICT #6 /
  * guide §2.6): independent checkpoint/persist jobs submit here instead
  * of `ExecutionContext.Implicits.global` so at most 3 are in flight —
  * enough to back-fill a stage's straggler tail, not so many that they
  * fight each other for executors on a shared cluster (the r13 ingest
  * path submitted 5 at once on the unbounded global pool). Daemon
  * threads: the pool must never block JVM exit.
  */
private[queries] object MatPool {
  implicit val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(3,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-mat-${n.getAndIncrement()}")
            t.setDaemon(true); t
          }
        }))
}

/** Exact fixed-point arithmetic for money/quantity aggregates — the
  * scale-proof form of the "round to 4 decimals" discipline. The sf1
  * sweep (10x gate scale) caught `round(sum(double), 4)` flipping a
  * rounding boundary on a ~5e10 sum (q14: Spark ...111.3499 vs DuckDB
  * ...111.35): at that magnitude the accumulated summation-order noise
  * of millions of adds reaches the 4th decimal, and no presentation
  * rounding can mask it — at 100 TB every such sum would sit on a coin
  * flip. Fix: the 2-decimal source columns become exact integer cents
  * BEFORE aggregation (round kills the float representation error, the
  * cast makes the sum exact and order-free), and presentation divides
  * the one exact integer by the scale factor — both engines perform the
  * identical IEEE op on the identical integer. SQL twins (keep in
  * lockstep; CAST sums to BIGINT — DuckDB sum(BIGINT) is HUGEINT and
  * stringifies differently):
  *   cents:    CAST(round(x * 100) AS BIGINT)
  *   present:  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / scale.0
  */
private[queries] object Fixed {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** A 2-decimal double column as exact integer cents. */
  def cents(c: Column): Column = round(c * 100, 0).cast("long")

  /** Exact sum for COMPOSITE terms (cents × percent [× percent]): the
    * per-row product reaches ~1e11, so a Long sum overflows 2^63 at
    * ~8e7 rows per group — three orders of magnitude below the 100 TB
    * design scale. Summing in decimal(38,0) is exact to 1e38 (any
    * conceivable corpus) and mirrors the oracle, where DuckDB's
    * sum(BIGINT) is HUGEINT (exact to 1.7e38): both engines then cast
    * the one exact integer to its nearest double at presentation.
    * Plain cents sums (≤ ~1e7/row) stay Long — exact past 1e11
    * rows/group — because Long aggregation is the faster codegen path.
    * SQL twin: `sum(...)` UNcast (keep HUGEINT), then
    * `CAST(sum(...) AS DOUBLE) / scale.0`.
    */
  def sumExact(term: Column): Column = sum(term.cast("decimal(38,0)"))

  /** Present an exact integer sum at `scale` fixed decimals as double. */
  def asDouble(sumCol: Column, scale: Long): Column =
    sumCol.cast("double") / scale.toDouble
}
