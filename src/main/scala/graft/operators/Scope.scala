package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Owner of what a query persists.
  *
  * Operators that reuse one lineage across passes (Similarity,
  * Relational, Layout, Unigram, Dedup, TrainingData) persist it through
  * [[persist]]. The DataFrames they return are lazy, so a builder has no
  * safe point to release its own intermediates; its caller builds the
  * query and runs the terminal action inside `Scope { ... }`, which
  * releases (non-blocking) every intermediate the calling thread
  * registered while the body ran, when it returns or throws. Scopes
  * nest: an inner scope releases only its own intermediates.
  *
  * The state is a plain, non-inheritable thread local, so a thread sees
  * only its own scopes (a pool thread never shares its creator's), and
  * two queries on two threads of one session never release each other's
  * intermediates — unless both persist the same plan, which Spark caches
  * once for the session. Outside any scope a thread registers into its
  * own root scope, which keeps its newest [[RootBound]] entries and
  * releases the oldest; an evicted intermediate that is still live just
  * recomputes on its next action.
  */
object Scope {
  private val RootBound = 64

  // innermost scope first; the last one is the thread's root scope
  private val scopes = new ThreadLocal[List[mutable.Queue[Dataset[_]]]] {
    override def initialValue(): List[mutable.Queue[Dataset[_]]] = List(mutable.Queue.empty)
  }

  /** Run `body` on the calling thread, then release what it persisted. */
  def apply[A](body: => A): A = {
    val outer = scopes.get
    val own = mutable.Queue.empty[Dataset[_]]
    scopes.set(own :: outer)
    try body
    finally { scopes.set(outer); release(own) }
  }

  /** Persist `ds` (MEMORY_AND_DISK) into the calling thread's innermost scope. */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    val held = scopes.get
    held.head += p
    if (held.tail.isEmpty) // only the root scope is bounded
      while (held.head.size > RootBound) held.head.dequeue().unpersist(blocking = false)
    p
  }

  /** Release what the calling thread persisted outside any scope. */
  private[operators] def releaseRoot(): Unit = release(scopes.get.last)

  private def release(held: mutable.Queue[Dataset[_]]): Unit =
    held.dequeueAll(_ => true).foreach(_.unpersist(blocking = false))
}
