package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of cached intermediates: no other code calls
  * `persist`/`unpersist` on a DataFrame. Every cached frame has exactly
  * one of two lifetimes.
  *
  *  - [[retain]]: until the innermost [[scoped]] block open on the
  *    calling thread exits, or, when none is open, until the session's
  *    next [[flush]] (harness loops flush between queries). A bare
  *    `persist()` would pin the cache for the session, an unbounded leak
  *    over thousands of queries or micro-batches.
  *  - [[memo]]: for the session's lifetime, evicted when its
  *    SparkContext stops.
  *
  * Unpersist is always safe: Spark recomputes from lineage if a consumer
  * still holds the plan. [[TempArtifacts.perCall]] roots follow the
  * same rule as retains, through [[onRelease]].
  *
  * Deliberately NOT localCheckpoint: checkpoint materialization is an
  * extra eager job + serialization pass, measured 2-3x slower than
  * persist reuse on the MinHash signature path.
  */
object CacheScope {
  /** A release action; its argument says whether to block. */
  private type Release = Boolean => Unit

  private val pending =
    scala.collection.concurrent.TrieMap.empty[SparkSession, List[Release]]

  /** Open scopes of the calling thread, innermost first. A plain
    * ThreadLocal, not an inheritable one: a pool thread must never
    * inherit (and outlive) a scope opened by the thread that created it.
    */
  private val scopes = new ThreadLocal[List[List[Release]]] {
    override def initialValue(): List[List[Release]] = Nil
  }

  /** Persist `df` (MEMORY_AND_DISK) until the innermost open scope exits,
    * or until the session's next flush when no scope is open.
    */
  def retain(df: DataFrame): DataFrame = {
    df.persist()
    onRelease(df.sparkSession)(blocking => df.unpersist(blocking): Unit)
    df
  }

  /** Register `release` under the same rule as [[retain]]. */
  private[graft] def onRelease(s: SparkSession)(release: Release): Unit =
    scopes.get match {
      case top :: outer => scopes.set((release :: top) :: outer)
      case Nil =>
        pending.updateWith(s) {
          case Some(l) => Some(release :: l)
          case None => Some(release :: Nil)
        }: Unit
    }

  /** Run `body` in a scope of the calling thread: what it retains on
    * this thread is unpersisted (non-blocking) when it exits. Retains
    * made on other threads, such as Futures the body starts, go to
    * those threads' scopes or to the session's flush. The body must
    * not return a lazy frame that reads its retains.
    */
  def scoped[T](body: => T): T = {
    val outer = scopes.get
    scopes.set(Nil :: outer)
    try body
    finally {
      val mine = scopes.get.head
      scopes.set(outer)
      mine.foreach(_(false))
    }
  }

  private val memos = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private val evictors =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()

  /** The frame `build` returns, persisted and memoized per (`s`, `key`)
    * for the session's lifetime: its entries are dropped when the
    * session's SparkContext stops, by one evictor per context.
    */
  def memo(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memos.getOrElseUpdate((s, key), {
      val sc = s.sparkContext
      if (evictors.add(sc))
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(
              e: SparkListenerApplicationEnd): Unit = {
            // only THIS context's entries: sessions on other live
            // contexts keep their persisted blocks
            memos.keys.filter(_._1.sparkContext eq sc).foreach(memos.remove)
            evictors.remove(sc): Unit
          }
        })
      build.persist()
    })

  /** Release everything retained for `s` outside any scope since the
    * last flush. Non-blocking: production callers must not stall on
    * block removal.
    */
  def flush(s: SparkSession): Unit = flush(s, blocking = false)

  /** Blocking variant for measurement harnesses (Bench): waits for the
    * blocks to actually drop so query N's cache debt is never paid
    * inside query N+1's timing window — what made in-suite readings
    * drift up to ~1.6x vs isolated reruns of the same code.
    *
    * Flushes every session sharing `s`'s SparkContext, not just `s`:
    * operators that scope confs through a child `newSession` (e.g.
    * FindStructures' small-grid AQE scoping) register retains under
    * the child, and the harness only knows the parent. Blocks live in
    * the shared context, so cross-session unpersist is the correct
    * lifetime boundary.
    */
  def flush(s: SparkSession, blocking: Boolean): Unit =
    pending.keys.filter(_.sparkContext eq s.sparkContext)
      .foreach(k => pending.remove(k).foreach(_.foreach(_(blocking))))
}
