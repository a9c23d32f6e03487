package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.storage.StorageLevel

/** The one owner of every cache and local checkpoint library code
  * pins. A pin has one of two lifetimes:
  *
  *  - SCOPE-OWNED: `Ckpt.scoped { pins => … }` hands the body a
  *    [[Pins]]: `pins.cache(df)` persists (lazily, as `persist` does),
  *    `pins.checkpoint(df)` local-checkpoints, `pins.release(df)` drops
  *    one pin early. Every pin still held is released when the scope
  *    ends, by return or by throw. This is the lifetime of a working
  *    set an operator reads while it runs and its result does not.
  *    [[releasable]] is the same scope ended by a thunk the caller
  *    runs instead of by a block.
  *  - RESULT-OWNED: [[local]] checkpoints a frame the operator returns
  *    (or that a returned lazy frame reads); its blocks go with that
  *    frame when the ContextCleaner reaches it. `pins.keep` hands a
  *    scope's checkpoint over to this lifetime, `pins.adopt` takes a
  *    callee's result-owned checkpoints into the scope. A lazy frame
  *    never reads a `pins.cache` pin past its scope: nothing would be
  *    left to unpersist the cache entry.
  *
  * PLAN-EVIDENCE MODE: with the session conf
  * `spark.graft.explain.noCheckpoint=true` (set only by
  * [[graft.Explain]] `--full` and plan-inspecting specs, on their own
  * session), every checkpoint here is skipped and the full lineage
  * flows into the final plan — `explain("formatted")` of a
  * checkpointed pipeline otherwise dumps a vacuous
  * `Scan ExistingRDD [...]` stub. Never set it for real runs: the
  * checkpoints bound lineage depth (iterative loops), let working sets
  * go early, and some carry semantics — DML's pinned matched rows and
  * SET values, StreamDedup's read-before-write order. It is a session
  * conf because the tool runs ordinary query code, not a Ckpt call it
  * could pass a flag to. */
object Ckpt {

  /** A result-owned local checkpoint (lineage truncation + block
    * materialization when `eager`). */
  def local(df: DataFrame, eager: Boolean = true): DataFrame =
    if (evidenceOnly(df)) df else df.localCheckpoint(eager)

  private def evidenceOnly(df: DataFrame): Boolean =
    df.sparkSession.conf.get("spark.graft.explain.noCheckpoint", "false") ==
      "true"

  /** Runs `body` with fresh [[Pins]], releasing every pin it still
    * holds when the body returns or throws. */
  def scoped[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.releaseAll()
  }

  /** [[scoped]] whose end is the returned thunk: a throw from `body`
    * releases at once, a return leaves the pins to the caller, who
    * runs the thunk once it has consumed what `body` returned. */
  def releasable[T](body: Pins => T): (T, () => Unit) = {
    val pins = new Pins
    val out = try body(pins) catch {
      case e: Throwable => pins.releaseAll(); throw e
    }
    (out, () => pins.releaseAll())
  }

  /** The pins of one scope, each keyed by the frame (or RDD) the
    * pinning call returned. */
  final class Pins private[Ckpt] {
    private var held = List.empty[(AnyRef, () => Unit)]

    private def hold[A <: AnyRef](a: A)(release: => Unit): A = {
      held ::= (a -> (() => release))
      a
    }

    /** `df.persist()`, released with the scope. */
    def cache(df: DataFrame): DataFrame = hold(df.persist())(df.unpersist())

    /** `rdd.persist(MEMORY_AND_DISK)`, released with the scope. */
    def cache[A](rdd: RDD[A]): RDD[A] =
      hold(rdd.persist(StorageLevel.MEMORY_AND_DISK))(
        rdd.unpersist(blocking = false))

    /** [[Ckpt.local]], released with the scope. In plan-evidence mode
      * a fresh frame over the same plan, so each call is its own pin. */
    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
      if (evidenceOnly(df)) hold(df.toDF())(())
      else {
        val c = df.localCheckpoint(eager)
        hold(c)(PlanBridge.release(c))
      }

    /** Releases the pin `df` (a frame this scope's `cache`/`checkpoint`
      * returned) now instead of at the scope's end. */
    def release(df: DataFrame): Unit = {
      val (mine, rest) = held.partition(_._1 eq df)
      require(mine.nonEmpty, "release of a frame this scope did not pin")
      held = rest
      mine.foreach(_._2())
    }

    /** Hands the checkpoint `df` over to the frame the scope returns:
      * it leaves the scope unreleased and becomes result-owned. */
    def keep(df: DataFrame): DataFrame = {
      require(held.exists(_._1 eq df), "keep of a frame this scope did not pin")
      held = held.filterNot(_._1 eq df)
      df
    }

    /** Runs `make` (a callee building a lazy frame this scope consumes
      * and its own result does not read) and takes the result-owned
      * checkpoints the callee pinned for that frame into the scope,
      * which releases them when it ends. Checkpoints the frame reads
      * that were pinned before the call are not the callee's and stay
      * with their owners. */
    def adopt(make: => DataFrame): DataFrame = {
      val sc = SparkSession.active.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val df = make
      df.queryExecution.analyzed.collectLeaves().foreach {
        case r: LogicalRDD if !before(r.rdd.id) &&
            sc.getPersistentRDDs.contains(r.rdd.id) =>
          hold(r.rdd)(PlanBridge.releaseRdd(r.rdd))
        case _ =>
      }
      df
    }

    private[Ckpt] def releaseAll(): Unit = {
      val all = held
      held = Nil
      all.foreach(_._2())
    }
  }
}
