package graft.plans

import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.{Failure, Try}

/** The one driver-side overlap helper: independent Spark actions run
  * from a small per-call thread pool (actions are only sequential
  * because the driver calls them sequentially; overlapping lets a tiny
  * write's commit latency hide under a big sibling job's tail, and
  * lets many small jobs share the executor pool). Strictly for
  * MUTUALLY INDEPENDENT work — distinct output paths, no shared
  * mutable state.
  *
  * Failure semantics: once a thunk fails, thunks still queued are
  * skipped, and EVERY started sibling is awaited before the first
  * failure (in input order) is rethrown — so no Spark job started by
  * the call outlives it: a thrown thunk must not leave a sibling write
  * racing a caller's retry or rebuild.
  *
  * Each call owns its pool, so calls nest (a thunk may call awaitAll
  * itself), and pool threads are created by the calling thread, so
  * they inherit its Spark local properties (job group, description). */
object Overlap {

  /** Run `work` with at most `maxInFlight` thunks in flight; results in
    * input order. With one thunk or `maxInFlight <= 1` the thunks run
    * on the calling thread and the first failure stops the rest. */
  def awaitAll[T](work: Seq[() => T], maxInFlight: Int = Int.MaxValue): Seq[T] = {
    val width = math.min(maxInFlight, work.size)
    if (width <= 1) work.map(_())
    else {
      val pool = Executors.newFixedThreadPool(width)
      val failed = new AtomicBoolean(false)
      try {
        val futures = work.map { w =>
          pool.submit(new Callable[Option[T]] {
            def call(): Option[T] =
              if (failed.get) None
              else
                try Some(w())
                catch { case t: Throwable => failed.set(true); throw t }
          })
        }
        val results = futures.map(f => Try(f.get()))
        results.collectFirst {
          case Failure(e: ExecutionException) if e.getCause != null => throw e.getCause
          case Failure(e) => throw e
        }
        results.map(_.get.get)
      } finally pool.shutdown()
    }
  }
}
