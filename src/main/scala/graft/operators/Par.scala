package graft.operators

/** Driver-side overlap of INDEPENDENT Spark actions (optimization guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Queries that are a series of small independent
  * jobs (per-store health counts, per-eps sweep points, per-strategy
  * audit materializations, a warehouse batch's staged table writes)
  * leave most of the cluster idle during each job's tail; submitting
  * them from a bounded pool lets the next job's tasks back-fill the
  * freed cores.
  *
  * Determinism contract: thunks receive no shared mutable state, each
  * result lands at its input index, and the default FIFO scheduler only
  * changes WHEN tasks run, never what they compute — so outputs (and
  * oracle hashes) are bit-identical to the sequential loop. Failures
  * propagate: run() waits for EVERY thunk to finish, then rethrows the
  * first failure in input order — no thunk is still running once run()
  * has returned or thrown, so a caller's failure handler (e.g. deleting
  * a staging directory the thunks write into) never races a sibling.
  *
  * The pool is sized small (2–4 in flight is plenty per the guide —
  * enough to fill stage tails, not so many that jobs fight for
  * executors): min(maxInFlight, #thunks) threads, independent of the
  * session's core count. Pool threads are created by the calling thread,
  * so they inherit its Spark local properties (job description, job
  * group, scheduler pool). */
object Par {
  /** Run the thunks as concurrently-submitted driver jobs; results in
    * input order. Parallelism = min(maxInFlight, #thunks), floored at 1.
    * Sequential fast-path for 0/1 thunks (no pool, no thread hop). */
  def run[T](thunks: Seq[() => T], maxInFlight: Int = 4): Seq[T] = {
    if (thunks.size <= 1) return thunks.map(_())
    val n = math.max(1, math.min(maxInFlight, thunks.size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = t()
        })
      }
      val outcomes = futs.map { f =>
        try Right(f.get())
        catch {
          // unwrap so callers see the original failure, not the
          // ExecutionException shell
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
        }
      }
      outcomes.collectFirst { case Left(e) => throw e }
      outcomes.collect { case Right(v) => v }
    } finally pool.shutdown()
  }
}
