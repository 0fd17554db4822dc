package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Registry for persisted frames whose lifetime outlives the operator
  * that created them.
  *
  * Several operators persist an intermediate frame because the RETURNED
  * (lazy) plan consumes it more than once — e.g. the tokenized corpus
  * feeding both a frequency table and a score join, or a shingle table
  * feeding both sides of a banded join. The operator cannot unpersist
  * before returning (the caller has not executed the plan yet) and the
  * caller holds no handle to the intermediate. Left alone, a long-lived
  * serving/ingestion session accumulates MEMORY_AND_DISK blocks until
  * executor storage is exhausted.
  *
  * Contract: operators register such frames via [[track]]; whoever
  * MATERIALIZES the returned frame (the Verify/Bench runners, the
  * serving pipeline, a batch job between actions) calls [[drain]] once
  * the results are on disk / collected. Draining between benchmark runs
  * also keeps timings honest — a re-run starts cold instead of silently
  * reusing the previous run's cache.
  *
  * [[drain]] is only safe once every frame tracked in the current scope
  * has had its consuming plan TERMINALLY materialized. It is NOT safe
  * mid-pipeline: some tracked frames (the range-partitioned bases under
  * `RowOps.tokenBudgetSample` / `SeqPack.withRunningTotal`) are
  * persisted precisely because recomputation resamples
  * `repartitionByRange` bounds — a drain landing between such a frame's
  * eager offsets job and the caller's materialization silently pairs
  * rows with offsets computed for different partitions (a correctness
  * bug, not just cost).
  *
  * To make that safety property local, bins are SCOPED: [[withScope]]
  * installs a fresh bin for the current thread (inherited by worker
  * threads it spawns), and [[track]]/[[drain]] operate on the innermost
  * scope. A serving request running inside `withScope` can only release
  * its own frames — never those of a batch pipeline tracking into the
  * global bin from another thread, nor a cache entry that a concurrent
  * request's frame shares (the same plan): the last holder releases
  * it. Runners with sole ownership of the session (Verify, Bench,
  * ScaleSweep, Reproduce) use the global bin and drain between
  * queries, where nothing is mid-flight.
  *
  * Frames with a bounded in-operator lifetime (e.g. the k-means Lloyd
  * loop base) should keep their local try/finally and never touch this.
  */
object CacheBin {

  private sealed trait Tracked
  // `entry`: the session cache entry the frame's persist resolved to
  private final case class Persisted(df: DataFrame, entry: Option[AnyRef])
      extends Tracked
  // an eager localCheckpoint pins its backing RDD in the BlockManager;
  // DataFrame.unpersist does not free it — only unpersisting the RDD
  // does (otherwise release waits on driver GC + ContextCleaner, i.e.
  // effectively never under a long-lived session)
  private final case class Checkpointed(
      rdds: Seq[org.apache.spark.rdd.RDD[_]]) extends Tracked

  private val global = new ConcurrentLinkedQueue[Tracked]()
  // InheritableThreadLocal: a worker thread spawned inside a scope
  // (serving's dedicated per-request thread) tracks into that scope.
  private val scoped =
    new InheritableThreadLocal[ConcurrentLinkedQueue[Tracked]]()

  // Spark's CacheManager keys cached data by plan (`sameResult`), so
  // scopes that persist the same plan — two requests over one catalog
  // table, or asking the same question — share ONE cache entry. The
  // first scope to drain would uncache it under the other's running
  // plans, which then rebuild the buffers and re-persist them outside
  // any bin. So each entry counts the tracked frames holding it, and
  // only the last release unpersists. Guarded by its own monitor; the
  // lookup and the release both run under it, so a release cannot land
  // between another scope's lookup and its count. One gap is left: a
  // persist that found another scope's entry, released before this
  // scope's `track`, leaves the frame uncached; closing it needs the
  // persist and the track in one call under this monitor.
  private val holds = new java.util.IdentityHashMap[AnyRef, Integer]()

  private def cacheEntry(df: DataFrame): Option[AnyRef] = df match {
    case d: org.apache.spark.sql.classic.Dataset[_] =>
      d.sparkSession.sharedState.cacheManager.lookupCachedData(d)
        .map(_.cachedRepresentation.cacheBuilder)
    case _ => None
  }

  private def current: ConcurrentLinkedQueue[Tracked] = {
    val s = scoped.get()
    if (s != null) s else global
  }

  /** Register an already-persisted frame for deferred release in the
    * innermost active scope (global when none).
    */
  def track(df: DataFrame): DataFrame = {
    val entry = holds.synchronized {
      val e = cacheEntry(df)
      e.foreach(holds.merge(_, 1, (a: Integer, b: Integer) => a + b))
      e
    }
    current.add(Persisted(df, entry))
    df
  }

  /** Register an eagerly-checkpointed frame (`localCheckpoint(true)`)
    * for deferred release: its backing RDD blocks are freed on
    * [[drain]] alongside the plain tracked frames. Safe to drain under
    * the same contract as any tracked frame — after the consuming
    * plans are terminally materialized (a drained checkpoint is NOT
    * recomputable; consumers planned against it must have run).
    */
  def trackCheckpoint(df: DataFrame): DataFrame = {
    val rdds = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    current.add(Checkpointed(rdds))
    df
  }

  /** [[track]], but materialize the cache first: without the pin, the
    * consumers race to compute every cached partition concurrently in
    * the first job — each partition is computed twice and the loser's
    * store is rejected (the BlockManager "block already exists" churn).
    *
    * The pin is a FULL serial materialization pass, so it is policy,
    * not default (the round-9 bench paid 2.5× on `q_jaccard_neardup`
    * for an indiscriminate pin). Eager-pin ONLY frames that are:
    *  - consumed by MORE THAN TWO join consumers across different key
    *    spaces (e.g. the MinHash shingle table: banded join + two
    *    verify joins), where recompute-per-consumer beats nothing and
    *    a racy lazy cache beats nobody; or
    *  - unsafe to recompute (range-partitioned bases whose re-sampled
    *    bounds would silently pair rows with stale offsets).
    * And pin the COMPACT form (one row per doc, pre-explode) — never
    * an exploded table whose pin pass serializes the large shape.
    *
    * A frame feeding exactly the two sides of a SELF-JOIN should not
    * be persisted at all: end its construction in a shuffle on the
    * join key (`repartition(key)` if the plan doesn't already) and
    * Spark's ReuseExchange/AQE stage reuse evaluates the subtree once
    * with zero cache traffic — measured at sf0.1 this matches the lazy
    * persist's wall time without the race (see TextDedup
    * `explodedShingleTable` and the PlanAuditSpec reuse assertions).
    */
  // track BEFORE the pinning count: if the count is cancelled (serving
  // timeout, job-group kill) the persisted frame must already be in the
  // bin, or the scope drain misses it and the blocks leak for the
  // session's lifetime
  def trackEager(df: DataFrame): DataFrame = { track(df); df.count(); df }

  /** Number of tracked, not-yet-released frames in the current scope
    * (for specs).
    */
  def pending: Int = current.size()

  /** Unpersist every frame tracked in the current scope. Only call
    * after the scope's consuming plans have been terminally
    * materialized (see class doc — recomputation is not always
    * equivalent).
    */
  def drain(blocking: Boolean = false): Unit = drainQueue(current, blocking)

  /** Run `body` with a fresh bin installed for this thread (and any
    * threads it spawns); drains it on the way out. Use one scope per
    * concurrent pipeline/request so drains cannot cross.
    */
  def withScope[A](body: => A): A = {
    val outer = scoped.get()
    val mine = new ConcurrentLinkedQueue[Tracked]()
    scoped.set(mine)
    try body
    finally {
      drainQueue(mine, blocking = false)
      scoped.set(outer)
    }
  }

  private def drainQueue(q: ConcurrentLinkedQueue[Tracked],
      blocking: Boolean): Unit = {
    var t = q.poll()
    while (t != null) {
      t match {
        case Persisted(df, None) => df.unpersist(blocking)
        case Persisted(df, Some(e)) => holds.synchronized {
          val left = holds.get(e) - 1
          if (left > 0) holds.put(e, left)
          else { holds.remove(e); df.unpersist(blocking) }
        }
        case Checkpointed(rdds)  => rdds.foreach(_.unpersist(blocking))
      }
      t = q.poll()
    }
  }
}
