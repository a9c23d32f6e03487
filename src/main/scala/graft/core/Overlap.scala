package graft.core

/** The one shared daemon pool for overlapping INDEPENDENT driver
  * actions (concurrent jobs back-fill each other's task tails; two or
  * three jobs in flight are plenty); call sites share it rather
  * than grow a pool each. A task run here must never wait on another
  * task of this pool (two such waits would hold both threads while
  * the awaited tasks sit queued): callers wait from their own thread. */
object Overlap {
  lazy val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2,
        (r: Runnable) => {
          val t = new Thread(r, "graft-overlap")
          t.setDaemon(true)
          t
        }))
}
