package graft.ml

import org.apache.spark.sql.{Dataset, SparkSession}

/** Session-level memoization for fitted models (VERDICT r3 list #4).
  *
  * A long-lived driver (Verify, a notebook session) invokes
  * several gates that each need the same expensive seeded fit — the
  * ALS candidate generator, the LR re-ranker, the 26-stage fixture
  * pipeline. The fits are deterministic (pinned seeds), so refitting
  * per gate buys nothing and dominates wall time. This memo holds the
  * fitted model by (session, logical key): the in-session twin of
  * [[graft.sources.Snapshots.loadOrCreateModel]] (the on-disk
  * create-if-missing seam, SURVEY §2.1 #9) and the model-shaped
  * sibling of [[graft.queries.Ml.docTfidfWeights]]'s frame memo.
  *
  * Session keying (ADVICE r5 #1): the outer map is a [[java.util.WeakHashMap]]
  * keyed on the session OBJECT — identity semantics while the session
  * is alive (no identity-hash collision with a GC'd session's reused
  * hash, which the previous `System.identityHashCode` key allowed),
  * and automatic eviction of a dead session's entries at the next GC,
  * so drivers cycling many sessions don't accumulate model references.
  * Values are held through [[java.lang.ref.SoftReference]]s (ADVICE
  * r6): a memoized value that references its session (a Dataset, or a
  * model holding one) would otherwise pin that session's entry — the
  * classic WeakHashMap value→key cycle. The soft indirection breaks
  * it: under memory pressure the JVM clears soft values FIRST, which
  * un-pins the weak session key, and the whole entry then evicts like
  * any other. Cost of a cleared value is one deterministic refit;
  * executor blocks of a GC'd cached Dataset are reclaimed by Spark's
  * own ContextCleaner (it weakly tracks persistent RDDs). [[clear]]
  * remains the eager path for tests and long drivers.
  *
  * Scale notes: entries are driver-held model references (factor
  * matrices etc. live in executor blocks managed by Spark ML itself);
  * keying by session keeps concurrent sessions isolated, and a fresh
  * JVM (each driver round) starts empty, so cross-run determinism
  * checks still exercise the full fit.
  */
object ModelMemo {
  private val memo =
    new java.util.WeakHashMap[
      SparkSession,
      java.util.concurrent.ConcurrentHashMap[
        String, java.lang.ref.SoftReference[AnyRef]]]()

  private def forSession(spark: SparkSession) = memo.synchronized {
    var m = memo.get(spark)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[
        String, java.lang.ref.SoftReference[AnyRef]]()
      memo.put(spark, m)
    }
    m
  }

  /** Return the memoized artifact for `key`, fitting once per
    * (session, key). `fit` must be deterministic for the key.
    *
    * The fit runs OUTSIDE any lock (get, then putIfAbsent) rather than
    * under `computeIfAbsent`: a multi-second model fit must not pin a
    * hash bin (blocking unrelated keys that share it), and a memoized
    * fit that composes another memoized fit must not trip CHM's
    * reentrant-update prohibition. Racing threads may both fit — fits
    * are deterministic, the first publish wins, and the engine's
    * drivers run gates sequentially, so in practice the fit still
    * happens once. */
  def cached[T <: AnyRef](spark: SparkSession, key: String)(fit: => T): T = {
    val m = forSession(spark)
    val ref = m.get(key)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) hit.asInstanceOf[T]
    else {
      val fitted = fit
      // plain put, not putIfAbsent: a racing publish (or a concurrently
      // cleared soft ref) just means the last deterministic fit wins
      m.put(key, new java.lang.ref.SoftReference[AnyRef](fitted))
      fitted
    }
  }

  /** Drop every memoized artifact (all sessions). Dataset-valued
    * entries (e.g. the cached TF-IDF weights frame) are unpersisted
    * first (ADVICE r5 #2: dropping the reference without unpersisting
    * orphans the cached blocks until the session dies — repeated
    * clear()/refit cycles would leak executor storage). For very
    * long-lived drivers cycling many datasets and for tests. */
  def clear(): Unit = memo.synchronized {
    memo.values.forEach { m =>
      m.values.forEach { ref =>
        ref.get() match {
          case ds: Dataset[_] =>
            try ds.unpersist(false) catch { case _: Throwable => () }
          case _ => ()
        }
      }
      m.clear()
    }
    memo.clear()
  }
}
