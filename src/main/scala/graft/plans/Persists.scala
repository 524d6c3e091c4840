package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}

/** Owner-scoped persist lifecycle.
  *
  * Operators persist intermediate frames (two-pass numbering, a grouping-
  * sets pass read by every candidate branch, a loser set anti-joined
  * twice) that stay useful until their consumer has run. Every such cache
  * has an owner that knows when that is: the pipeline phase that drains
  * and checkpoints its output, the pipeline run, the harness query, the
  * streaming micro-batch. The owner opens a [[scope]]; the operator
  * registers its release with [[onScopeEnd]]; the scope runs every
  * release when it exits, on success and on failure. No other action —
  * the operator's own `count()`, a sibling operator, another thread's
  * query — can release a cache early.
  *
  * Scopes are per thread (a plain `ThreadLocal`, so Spark's stream and
  * broadcast threads never inherit a caller's scope) and nest: a release
  * goes to the innermost open scope. Outside any scope a registration is
  * dropped and the blocks stay until [[releaseAll]] or an explicit
  * unpersist; harnesses that run query after query call [[releaseAll]]
  * between queries (through [[graft.tools.Harness.timed]]) — the query's
  * action has completed, so every surviving block is dead weight by
  * construction.
  */
object Persists {

  private val open = new ThreadLocal[mutable.ArrayBuffer[() => Unit]]

  /** Run `body`; on exit, run every release registered in it, newest
    * first. */
  def scope[T](body: => T): T = {
    val outer = open.get
    val releases = mutable.ArrayBuffer.empty[() => Unit]
    open.set(releases)
    try body
    finally {
      open.set(outer)
      releases.reverseIterator.foreach(_())
    }
  }

  /** Register `release` with the innermost open scope on this thread; a
    * no-op outside any scope. */
  def onScopeEnd(release: () => Unit): Unit =
    Option(open.get).foreach(_ += release)

  /** Drop the stored partitions behind an eagerly localCheckpoint'ed
    * frame's LogicalRDD leaf when the scope exits (the x260 greedy-cover
    * convention); nothing if `d` is not a checkpoint leaf. */
  def releaseCheckpointAtScopeEnd(d: Dataset[_]): Unit =
    d.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        onScopeEnd(() => l.rdd.unpersist(blocking = false))
      case _ =>
    }

  /** Drop every persisted RDD and cached relation in the session.
    * Non-blocking: removal is async, but the blocks are immediately
    * ineligible as live storage and the next query starts clean. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Number of persisted RDDs currently alive — spec hook for the
    * no-leak invariant. */
  def livePersistedRdds(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Run `body` with session confs temporarily overridden, restoring the
    * prior values (or unsetting) on the way out. Runtime SQL confs apply at
    * ACTION time, not plan-build time, so this scopes an override to the
    * eager actions a pipeline runs internally — e.g. the ingest pipelines
    * pin `spark.sql.adaptive.enabled=false` around their sequential
    * count/closure actions (AQE's per-stage re-optimization across ~8
    * sequential actions was bisected as a 2-3x bimodal wall-time tail at
    * bench scale, while the fixed plans are already the shapes AQE would
    * pick) without touching the session default, which stays ON for the
    * single-action LSH queries AQE measurably helps. NOT thread-safe
    * across concurrently-running queries in one session — callers are
    * sequential pipelines. */
  def withSessionConf[T](spark: SparkSession)(confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
