package graft.operators

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

/** A memo of futures: `apply(key)(compute)` runs `compute` once per key and
  * hands its value to every caller, on any thread.
  *
  * The computation runs on the first caller's thread OUTSIDE any map lock: a
  * Spark job inside `computeIfAbsent` would hold the hash-bin lock for the
  * job's full duration, so lookups of unrelated keys in the same bin would
  * wait behind it, and a reentrant lookup would deadlock. Later callers of
  * the same key wait on the first one's future. A failed computation is
  * removed, so the next caller retries it, and every waiter sees the
  * computing thread's own exception (unwrapped from `join`'s
  * `CompletionException`), whichever thread ran it.
  */
final class Memo[K, V] {

  private val futures = new ConcurrentHashMap[K, CompletableFuture[V]]()

  /** Number of keys computed or being computed. */
  def size: Int = futures.size

  def apply(key: K)(compute: => V): V = {
    val fut = new CompletableFuture[V]()
    val prior = futures.putIfAbsent(key, fut)
    if (prior != null)
      try prior.join()
      catch { case e: CompletionException => throw Option(e.getCause).getOrElse(e) }
    else
      try {
        val v = compute
        fut.complete(v)
        v
      } catch { case e: Throwable =>
        fut.completeExceptionally(e)
        futures.remove(key, fut)
        throw e
      }
  }
}
