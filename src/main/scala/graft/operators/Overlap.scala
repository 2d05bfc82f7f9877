package graft.operators

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of two INDEPENDENT pipeline builds (optimization
  * guide §2.6): Spark happily schedules several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Audit-twin queries build two self-contained
  * pipelines (e.g. a semantic and a brute dedup, or an exact and a
  * cell-restricted miner) whose construction is EAGER (k-means driver
  * loops, localCheckpoint materializations, connected-components
  * rounds); built one after the other, each pipeline's scheduling gaps
  * and stage tails leave the cluster idle while the other waits. One
  * extra driver thread lets the second pipeline's jobs back-fill those
  * gaps.
  *
  * Results are unaffected: both builds are pure functions of their
  * inputs, touch disjoint state, and every observation/checkpoint they
  * register is instance-scoped (Observation() auto-names — see the
  * connectedComponents note). Use ONLY for genuinely independent
  * builds. */
object Overlap {
  private val groups = new java.util.concurrent.atomic.AtomicLong

  /** How long a failing primary waits for its cancelled sibling. */
  private val FailureJoinMs = 30000L

  /** Run `b` on a sibling driver thread while `a` runs here; returns
    * both results. The sibling's jobs run under their own job group. If
    * `a` throws, that group is cancelled (running and future jobs) and
    * the sibling is joined for at most [[FailureJoinMs]], so the failure
    * surfaces without waiting out the sibling. A sibling still alive
    * then (stuck in driver code no job cancel reaches) is interrupted
    * and a `TimeoutException` rides along via `addSuppressed`; when both
    * fail, the sibling's exception is attached the same way. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val session = SparkSession.getActiveSession.orNull
    val group = s"graft-overlap-${groups.incrementAndGet()}"
    var bRes: Option[Either[Throwable, B]] = None
    val t = new Thread(() => {
      // job groups/descriptions are thread-local (inherited as a copy),
      // so the group set here tags only the sibling's jobs; the
      // active-session binding serves code that resolves it implicitly
      if (session != null) {
        SparkSession.setActiveSession(session)
        val sc = session.sparkContext
        sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"),
          interruptOnCancel = true)
      }
      bRes = Some(try Right(b) catch { case e: Throwable => Left(e) })
    }, "graft-overlap")
    t.setDaemon(true)
    t.start()
    val aRes =
      try a
      catch { case e: Throwable =>
        if (session != null)
          session.sparkContext.cancelJobGroupAndFutureJobs(group)
        t.join(FailureJoinMs)
        if (t.isAlive) {
          t.interrupt()
          e.addSuppressed(new java.util.concurrent.TimeoutException(
            s"overlapped build still running ${FailureJoinMs / 1000} s " +
              "after the primary failed; interrupted"))
        } else bRes.foreach {
          case Left(sib) if sib ne e => e.addSuppressed(sib)
          case _ => ()
        }
        throw e
      }
    t.join()
    bRes match {
      case Some(Right(r)) => (aRes, r)
      case Some(Left(e)) => throw e
      case None => throw new IllegalStateException(
        "overlapped build produced no result")
    }
  }
}
